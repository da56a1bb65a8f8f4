package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump for fast iteration
    // (same contract as Bench); unset = full catalog, the driver's mode.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from an earlier run — a leftover result
        // would make the driver's compare pass against old code
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
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
    // stability.json: an order-insensitive content hash of every dumped
    // result + the rows-only reason taxonomy (VERDICT r4 items 3+6).
    // Rows-only entries have no DuckDB oracle, so this is their only
    // artifact-level content signal: the hash is comparable round over
    // round, making silent content drift visible in the artifact diff.
    // Hash = sum of per-row xxhash64 over name-sorted columns — row- and
    // partition-order independent, computed from the parquet the driver
    // reads (not a re-execution).
    locally {
      import org.apache.spark.sql.functions.{coalesce => cls, col, count, lit, struct, sum, to_json, xxhash64}
      val entries = SparkEntry.all
        .filter(qq => only.forall(_.contains(qq.name)))
        .flatMap { qq =>
          val dir = new java.io.File(s"$outDir/${qq.name}")
          if (!dir.exists()) None
          else try {
            val df = spark.read.parquet(dir.toString)
            val cols = df.columns.sorted.map(col)
            // xxhash64 can't digest MapType — route those through to_json
            val rowHash =
              if (df.schema.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]))
                xxhash64(to_json(struct(cols: _*)))
              else xxhash64(cols: _*)
            // decimal(38,0) sum: exact + order-insensitive and cannot
            // overflow under ANSI mode (2^63 · rowcount ≪ 10^38)
            val r = df.agg(
              cls(sum(rowHash.cast(org.apache.spark.sql.types.DecimalType(38, 0))),
                lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"),
              count(lit(1)).as("n")).head()
            Some(s"${q(qq.name)}: {\"rows\": ${r.getLong(1)}, " +
              s"\"hash\": \"${r.getDecimal(0).toBigInteger.toString(16)}\", " +
              s"\"rows_only_reason\": ${qq.rowsOnlyReason.map(q).getOrElse("null")}}")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[verify] stability ${qq.name} failed: ${e.getMessage}")
            None
          }
        }
      Files.writeString(Paths.get(s"$outDir/stability.json"),
        entries.mkString("{", ",\n", "}"))
    }
    // recall alongside correctness (r3): approximate-operator recall vs
    // exact ground truth at the same sf, so a recall regression (a
    // silently-useless ANN/LSH config, like r1's 0.00-recall sim3) shows
    // up in the per-round artifacts, not only in manual probe runs.
    // Never fails the dump — correctness outputs stand on their own.
    // Full catalog only: a SPARK_GRAFT_ONLY subset dump is an iteration
    // or scale check, and the probe re-runs the approximate operators
    // over the whole dir (most of an 8× replica run's wall).
    if (only.isEmpty) try {
      val recall = RecallProbe.measure(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/recall.json"), recall)
      println(s"RECALL_JSON $recall")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] recall probe failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
