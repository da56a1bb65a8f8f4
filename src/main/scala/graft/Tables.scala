package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftInternalFrameAccess, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Mirrors the reference's per-source inference step (reference:
  * DistributedQueryEngine.diff, RDBMSInferrer.scala hunk) — here parquet
  * carries its own schema, so "inference" is the DSv2 footer read; the
  * CSV/JSON inference path lives in [[graft.sources.Inference]].
  *
  * Each source is resolved once per session, as the reference infers a
  * source's schema once and plans every later query against it. A
  * `spark.read.parquet` lists the files and runs a schema-merge Spark job;
  * [[table]] keeps the analyzed `LogicalRelation` of the first read and
  * serves later calls from it:
  *   - Key: the session, the path, the session's parquet-reading confs
  *     (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *     `spark.sql.files.*`, e.g. `spark.sql.legacy.parquet.nanosAsLong`)
  *     and a fingerprint of the path's leaf files: each file's path,
  *     length and modification time, the [[graft.plans.ResultCache]]
  *     input-digest contract. A rewritten file changes the fingerprint,
  *     so it is never served a stale schema. The fingerprint is a plain
  *     status listing, cheaper than the file index's own listing that
  *     every uncached read makes, so a hit adds no cost that grows with
  *     the data.
  *   - Hit: a new frame over `relation.newInstance()`, so every call gets
  *     fresh attribute ids and self-joins and exchange reuse behave
  *     exactly as with separate reads.
  *   - Bound: a cached relation pins its session, so the cache is a
  *     fixed LRU of at most 64 relations, and the relations of stopped
  *     sessions are dropped on every miss.
  */
object Tables {
  private val MaxRelations = 64
  private val ReadConfPrefixes =
    Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.files.")

  private final case class Source(session: SparkSession, path: String,
                                  confs: Map[String, String],
                                  files: Seq[(String, Long, Long)])

  private val relations =
    new java.util.LinkedHashMap[Source, LogicalRelation](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Source, LogicalRelation]): Boolean =
        size > MaxRelations
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = Source(spark, path,
      spark.conf.getAll.filter { case (k, _) => ReadConfPrefixes.exists(k.startsWith) },
      fingerprint(spark, path))
    relations.synchronized(Option(relations.get(key))) match {
      case Some(rel) => GraftInternalFrameAccess.ofRows(spark, rel.newInstance())
      case None =>
        val df = spark.read.parquet(path)
        df.queryExecution.analyzed match {
          case rel: LogicalRelation if key.files.nonEmpty => relations.synchronized {
            relations.keySet.removeIf(_.session.sparkContext.isStopped)
            relations.put(key, rel)
          }
          case _ =>
        }
        df
    }
  }

  /** (path, length, modification time) of every leaf file under `path`. */
  private def fingerprint(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    // listStatus, not listFiles: the latter also looks up block locations,
    // which costs ~5 ms per local file against ~0.02 ms.
    def leaves(fs: FileSystem, dir: Path): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) leaves(fs, st.getPath)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    // A missing path gets an empty fingerprint, which is never cached: the
    // uncached read fails with Spark's own PATH_NOT_FOUND error.
    try leaves(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The driver-generated events.parquet has shipped `ts` in two
    * encodings across rounds: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read nanos as long via the legacy conf and
    * floor-divide to micros, identical to DuckDB's ns→µs truncation) and
    * TIMESTAMP(MICROS) isAdjustedToUTC=false (which Spark reads as
    * TIMESTAMP_NTZ). Branch on the footer type and normalize both to
    * session-local TimestampType — the session runs in UTC everywhere
    * (builder conf), so the NTZ→LTZ cast is wall-time-preserving and the
    * values match DuckDB's TIMESTAMP exactly. The legacy conf is a runtime
    * SQL conf, so it is set on the calling session, whatever that session
    * was built with.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
