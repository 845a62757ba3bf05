package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

/** Plan-audit dump: formatted physical plans for every SparkEntry query,
  * written to a markdown file. Used to keep the promises the operators
  * make (broadcast joins broadcast, filters/projections reach the scan,
  * no cartesian products) inspectable per round.
  *
  * Usage: runMain graft.Explain <sfDir> <outFile>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS_r02.md")
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plans = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try plans(name) = stable(fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // Per-query cache reset, like Verify: frames persisted by one
      // query's operator must not substitute InMemoryRelations into the
      // NEXT query's audited plan — each plan should be the one a fresh
      // session would run.
      spark.catalog.clearCache()
      System.gc()   // reclaim localCheckpoint blocks (see Verify)
    }
    val sb = new StringBuilder
    sb.append("# Physical plans (audit) — `explain(\"formatted\")`\n\n")
    sb.append(s"Generated from `$sfDir` by `graft.Explain`.\n")
    // Machine-generated scale-killer scan, so every PLANS_r* file
    // carries its own audit instead of relying on a by-hand pass:
    // cartesians are outright failures (EntrySmokeSpec also rejects
    // them); plain `Cross` counts include the benign 1-row
    // BroadcastNestedLoopJoin frames and are listed for eyeballing.
    sb.append("\n## Audit summary (generated)\n\n")
    sb.append(s"- queries planned: ${plans.size}; FAILED: ${failures.size}")
    sb.append(failures.keys.mkString(if (failures.isEmpty) "" else " (",
      ", ", if (failures.isEmpty) "" else ")"))
    sb.append("\n")
    val cartesian = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n }
    sb.append(s"- CartesianProduct: ${cartesian.size}")
    sb.append(cartesian.mkString(if (cartesian.isEmpty) "" else " (",
      ", ", if (cartesian.isEmpty) "" else ")"))
    sb.append("\n")
    def count(p: String, op: String): Int = op.r.findAllMatchIn(p).size
    val rows = plans.toSeq.map { case (n, p) =>
      // Word-boundary anchor: bare "Exchange" would also match
      // BroadcastExchange / ReusedExchange nodes (ADVICE r7), inflating
      // the shuffle column — only the shuffle Exchange operator counts.
      (n, count(p, "(?<![A-Za-z])Exchange"), count(p, "SortMergeJoin"),
        count(p, "BroadcastHashJoin"), count(p, "BroadcastNestedLoopJoin"))
    }
    sb.append("- top plans by shuffle Exchange count (printed-plan nodes; " +
      "BSP loops print their full nested lineage but execute per-round " +
      "against persisted frames):\n\n")
    sb.append("| query | Exchange | SMJ | BHJ | BNLJ |\n|---|---|---|---|---|\n")
    rows.sortBy(-_._2).take(12).foreach { case (n, e, s, b, c) =>
      sb.append(s"| $n | $e | $s | $b | $c |\n")
    }
    failures.foreach { case (name, msg) =>
      sb.append(s"\n## $name\n\nFAILED: $msg\n")
    }
    plans.foreach { case (name, plan) =>
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }

  private val StageArguments =
    """(?m)^(\(\d+\) (?:Shuffle|Broadcast|TableCache|Result)QueryStage\n(?:.+\n)*?Arguments: )\d+""".r
  private val RunCounter = """(#|plan_id=|RDD\[)(\d+)""".r
  private val TempDir = """(graft_[A-Za-z_]+?)\d+(?![0-9A-Za-z])""".r
  private val LambdaId = """(\$Lambda)(?:\$\d+)?/0x[0-9a-f]+@[0-9a-f]+""".r
  private val ObjectId = """(graft\.[\w.$]+@)[0-9a-f]+""".r

  /** A plan text that two runs of the same code print identically. The
    * expression, exchange-plan and RDD ids come from JVM-wide counters,
    * so they are renumbered per plan in order of first appearance (one
    * id keeps one number, so references still match), and the stage id
    * in the `Arguments` line of each AQE query-stage node becomes `*`:
    * AQE numbers stages in the order they are created, which can differ
    * between two runs (the connected-components plans swap stage ids).
    * The random suffix of the engine's temp dirs (`graft_epoch123…` in an
    * `InMemoryFileIndex` location), a JVM lambda's class number, address
    * and hash (`$Lambda$7542/0x…@7a914049` in a `MapGroups` or aggregate
    * argument) and the identity hash of an engine object printed in an
    * aggregate (`graft.functions.TopKAggregator@38ca26f5`) become `*` too.
    */
  private def stable(plan: String): String = {
    val seen = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Map[String, Int]]
    val renumbered = RunCounter.replaceAllIn(plan, { m =>
      val ids = seen.getOrElseUpdate(m.group(1),
        scala.collection.mutable.Map.empty)
      Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1))
    })
    Seq(StageArguments, TempDir, LambdaId, ObjectId)
      .foldLeft(renumbered)((p, r) =>
        r.replaceAllIn(p, m => Regex.quoteReplacement(m.group(1) + "*")))
  }
}
