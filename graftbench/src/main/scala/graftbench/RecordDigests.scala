package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes the expected result digest of every workload query, computed
  * on the benchmark's tables, for `expected/digests.json`.
  *
  * With a `graft.Verify` output directory and the JSON report
  * `tools/check.py` printed for it, each entry also records whether the
  * Verify dump has the same digest and whether DuckDB agreed with it.
  *
  * Usage: RecordDigests <dataDir> <workDir> <out.json> [<verifyDir> <check.json>]
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val Array(data, work, out) = args.take(3)
    val verify = args.lift(3)
    val duckdb = args.lift(4).map { f =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(f))
    }
    val spark = Session.start(Runtime.getRuntime.availableProcessors, work, data)
    val names = Workloads.all.flatMap(_.queries).distinct.sorted
    val entries = names.map { name =>
      val d = Digest.of(SparkEntry.queries(name)(spark, data))
      graft.core.OpCache.release()
      spark.catalog.clearCache()
      val checks = verify.toSeq.map { v =>
        val same = Digest.of(spark.read.parquet(s"$v/$name")) == d
        s""""verify_dump_matches": $same"""
      } ++ duckdb.toSeq.map { report =>
        val r = report.get(name)
        val status =
          if (r == null) "no result"
          else if (r.path("check").asText == "rows-only") "no oracle twin (rows-only check)"
          else if (r.path("ok").asBoolean) "agrees"
          else s"DISAGREES: ${r.toString}"
        s""""duckdb": ${Json.str(status)}"""
      }
      println(s"[digest] $name $d ${checks.mkString(" ")}")
      val fields = Seq(s""""rows": ${d.rows}""", s""""hash": ${Json.str(d.hash)}""",
        s""""schema": ${Json.str(d.schema)}""") ++ checks
      s"  ${Json.str(name)}: {${fields.mkString(", ")}}"
    }
    Files.writeString(Paths.get(out), entries.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
