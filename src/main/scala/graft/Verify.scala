package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus.toInt)
      // local-mode rig: nio checkpoint manager dodges the no-native-lib
      // shell-fork tax on every streaming metadata write (see
      // streaming/LocalCheckpointFileManager)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
      .getOrCreate()
    // enable the GENERATED oracles (trained-artifact literals, e.g. the
    // IVF codebook) for this data dir before oracle_sql.json is serialized
    OracleSql.setTrainingContext(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Stale-gate guard (ADVICE r15 #3): a FILTERED run re-dumps per-key
    // parquet but skips the hash export below, so a reused outDir could
    // pair freshly dumped (possibly regressed) parquet with the previous
    // run's actual_hashes.json and false-PASS the content-hash check.
    // Drop the side files up front so check_oracle.py sees hashes only
    // when THIS run computed them against THIS run's dumps.
    // expected_rows.json included since r18: its write is conditional on
    // the SF being pinned, so an unpinned-SF rerun into a reused outDir
    // would otherwise pair fresh dumps with a previous scale's counts
    Seq("actual_hashes.json", "expected_hashes.json",
        "expected_rows.json").foreach { f =>
      Files.deleteIfExists(Paths.get(s"$outDir/$f"))
    }
    // comma-separated substring filter for fast iteration (mirrors Bench's
    // SPARK_GRAFT_BENCH_FILTER); default "" = all queries
    val filters = sys.env.getOrElse("SPARK_GRAFT_VERIFY_FILTER", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    SparkEntry.queries
      .filter { case (name, _) =>
        filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-SF pins for the rows-only keys (ADVICE r13 #2; sf0.1 layer
    // VERDICT r17 #3): lets the local t2 gate (tools/check_oracle.py)
    // compare each un-oracled key's row count against an exact
    // expectation instead of skipping it. Pins are SF-specific — an
    // unpinned SF exports nothing rather than the wrong scale's counts.
    val sfName = new java.io.File(sfDir).getName
    val (rowPins, hashPins) = sfName match {
      case "sf0.01" => (ResultPins.pinned, ResultPins.hashPinned)
      case "sf0.1" => (ResultPins.pinnedSf10, ResultPins.hashPinnedSf10)
      case _ => (Map.empty[String, Long], Map.empty[String, String])
    }
    if (rowPins.nonEmpty) {
      val pins = rowPins.toSeq.sortBy(_._1)
        .map { case (k, n) => s"${q(k)}: $n" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/expected_rows.json"), pins)
    }
    // Content-hash pins (VERDICT r14 #2): compute each pinned key's
    // canonical Spark-side hash FROM THE DUMPED PARQUET (exactly what the
    // count gate reads) and export expected vs actual for check_oracle.py.
    if (hashPins.nonEmpty && filters.isEmpty) {
      val actual = hashPins.keys.toSeq.sorted.flatMap { k =>
        try Some(k -> ResultPins.canonicalHash(spark.read.parquet(s"$outDir/$k")))
        catch { case e: Throwable =>
          System.err.println(s"[verify] hash of $k failed: ${e.getMessage}")
          None
        }
      }
      Files.writeString(Paths.get(s"$outDir/actual_hashes.json"),
        actual.map { case (k, h) => s"${q(k)}: ${q(h)}" }.mkString("{", ",", "}"))
      Files.writeString(Paths.get(s"$outDir/expected_hashes.json"),
        hashPins.toSeq.sortBy(_._1)
          .map { case (k, h) => s"${q(k)}: ${q(h)}" }.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
