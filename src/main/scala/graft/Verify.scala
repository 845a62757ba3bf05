package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession()
      // SPARK_GRAFT_AQE=false runs the gate without adaptive execution —
      // the sweep that proves no result depends on AQE's runtime
      // re-planning (coalesced partitions, demoted joins), only on the
      // operators' own determinism contracts. Validated here so a bad
      // value ('0', 'no') fails naming the env var instead of surfacing
      // as an opaque conf-parse error at session creation.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true") match {
          case v @ ("true" | "false") => v
          case v => throw new IllegalArgumentException(
            s"SPARK_GRAFT_AQE must be 'true' or 'false', got '$v'")
        })
      // SPARK_GRAFT_ANSI=false sweeps the gate under legacy (non-ANSI)
      // evaluation — proves no result depends on ANSI-vs-legacy cast/
      // arithmetic edges (all inputs are well-formed, so the two modes
      // must agree; a disagreement would mean a query silently leans on
      // an error-vs-null edge case).
      .config("spark.sql.ansi.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ANSI", "true") match {
          case v @ ("true" | "false") => v
          case v => throw new IllegalArgumentException(
            s"SPARK_GRAFT_ANSI must be 'true' or 'false', got '$v'")
        })
      // SPARK_GRAFT_CODEGEN=false sweeps the gate with whole-stage
      // codegen disabled — every custom Expression then runs its
      // interpreted eval() instead of doGenCode(), so a green run proves
      // the two implementations agree on the full query surface (the
      // bug class where the generated code drifts from the interpreter).
      .config("spark.sql.codegen.wholeStage",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN", "true") match {
          case v @ ("true" | "false") => v
          case v => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CODEGEN must be 'true' or 'false', got '$v'")
        })
      // NO_CODEGEN forces interpreted projections too — without it,
      // expression-level codegen still compiles doGenCode even when
      // whole-stage fusion is off.
      .config("spark.sql.codegen.factoryMode",
        if (sys.env.get("SPARK_GRAFT_CODEGEN").contains("false"))
          "NO_CODEGEN" else "FALLBACK")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Eager scratch-listener install (round-14 ADVICE): the first sliced
    // query's first slice must count like every other.
    graft.operators.Scratch.install(spark)
    new java.io.File(outDir).mkdirs()
    // Optional filter (same contract as Bench's — SparkEntry.onlyFilter)
    // for iterating on a few queries without dumping all of them.
    val only = SparkEntry.onlyFilter()
    // A query that throws is recorded in verify_errors.json, not just
    // stderr: CORRECTNESS_r06 silently omitted 14 analysis-failing
    // queries and the artifact read as an all-green round (ADVICE r6).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
      }
      // Drop frames some operators persist internally (near-dup shingle
      // sets) so a long verify run doesn't accumulate cached blocks.
      // clearCache does NOT release localCheckpoint blocks (the BSP
      // graph loops create them); those are reclaimed by the
      // ContextCleaner when the frames become unreachable — the gc()
      // nudge makes that deterministic per query instead of
      // whenever-the-JVM-feels-like-it (Verify is untimed, so the pause
      // is free; Bench already does this in timeCold).
      spark.catalog.clearCache()
      System.gc()
      graft.operators.Scratch.noteReclaim(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the full oracle map, even under SPARK_GRAFT_ONLY: a filtered
    // run into a previously-full outDir must not shrink the gate to the
    // subset (stale dumps + a subset oracle file would read as an
    // all-green full pass). The checker reports non-dumped queries as
    // SKIP, so partial runs are loud.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object when clean) so its absence vs
    // emptiness is never ambiguous; non-zero exit mirrors Bench's
    // failure-honesty contract.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
