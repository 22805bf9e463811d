package graft.warehouse

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The protocol every persisted query index shares
  * ([[graft.text.BucketIndex]], [[graft.sim.IvfIndex]]): like the
  * reference's cadence-refreshed summaries (refresh_views.py), an index
  * is reused while its key (version, params, base fingerprint) holds.
  * Same-index builds serialize on one monitor per meta path within a
  * JVM (cross-process races are out of scope). A rebuild deletes the
  * meta FIRST and writes it LAST (temp file + rename), so a crash in
  * between leaves no meta and the next [[ensure]] rebuilds instead of
  * serving a torn index. The meta, a `java.util.Properties` file of the
  * key plus the build's facts (`n`, IVF's `k`), is read with one
  * `fs.open`, so a warm check over a file-backed base starts no job.
  */
object PersistedIndex {

  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Return the meta of a valid index at `metaPath`, running `build`
    * first when the meta is missing or its (version, params,
    * fingerprint of `base` over `cols`) differs. `build` receives the
    * base row count and returns its extra facts; the returned map holds
    * every meta entry, facts included, as strings. */
  def ensure(
      spark: SparkSession,
      metaPath: String,
      version: Int,
      params: Seq[(String, Any)],
      base: DataFrame,
      cols: Seq[String],
  )(build: Long => Seq[(String, Any)]): Map[String, String] = {
    val lock = buildLocks.computeIfAbsent(metaPath, _ => new Object)
    lock.synchronized {
      val (fingerprint, counted) = fingerprintOf(base, cols)
      val key = Map("version" -> version.toString, "fingerprint" -> fingerprint) ++
        params.map { case (k, v) => s"param.$k" -> v.toString }
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val meta = new Path(metaPath)
      readMeta(fs, meta) match {
        case Some(m) if m.view.filterKeys(k => key.contains(k) || k.startsWith("param.")).toMap == key => m
        case _ =>
          fs.delete(meta, true)
          val n = counted.getOrElse(base.count())
          val full = key ++ (("n" -> n) +: build(n)).map { case (k, v) => k -> v.toString }
          writeMeta(fs, meta, full)
          full
      }
    }
  }

  /** The base's fingerprint, and its row count if that counted it.
    * A file-backed base (deterministic Project/Filter nodes over a file
    * scan) hashes the sorted (path, length, modification time) listing
    * its file index already holds — taken when the DataFrame was
    * created, so re-read a rewritten base — and the SQL above the scan,
    * so td11's `% 3 = 0` and `% 3 = 1` bases over one file set differ.
    * Any other base hashes its content: row count and the wrapping sum
    * of `xxhash64` over `cols`, one job, the cost of the old count. */
  private def fingerprintOf(base: DataFrame, cols: Seq[String]): (String, Option[Long]) =
    fileListingKey(base.queryExecution.analyzed) match {
      case Some(listing) => (java.security.MessageDigest.getInstance("SHA-256")
        .digest(listing.getBytes(UTF_8)).map(b => f"$b%02x").mkString, None)
      case None =>
        // per-partition (rows, wrapping 64-bit hash sum), combined on
        // the driver: one job with no exchange
        val parts = base.select(xxhash64(cols.map(col): _*)).as(Encoders.scalaLong)
          .mapPartitions { it =>
            var n, hashes = 0L
            it.foreach { h => n += 1; hashes += h }
            Iterator((n, hashes))
          }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
          .collect()
        val n = parts.map(_._1).sum
        (f"rows:$n:${parts.map(_._2).sum}%016x", Some(n))
    }

  /** The listing + plan text of a file-backed plan, None for any other. */
  private def fileListingKey(plan: LogicalPlan): Option[String] = plan match {
    case p: Project if p.projectList.forall(_.deterministic) =>
      fileListingKey(p.child).map(_ + "\nproject " + p.projectList.map(_.sql).mkString(", "))
    case f: Filter if f.condition.deterministic =>
      fileListingKey(f.child).map(_ + "\nfilter " + f.condition.sql)
    case r: LogicalRelation => r.relation match {
      case fsr: HadoopFsRelation =>
        val files = fsr.location.listFiles(Nil, Nil).flatMap(_.files).map { f =>
          s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}"
        }.sorted
        Some((r.output.map(a => s"${a.name}:${a.dataType.catalogString}").mkString("scan ", ",", "") +:
          files).mkString("\n"))
      case _ => None
    }
    case _ => None
  }

  private def readMeta(fs: FileSystem, meta: Path): Option[Map[String, String]] =
    try {
      val in = fs.open(meta)
      val props = new java.util.Properties()
      try props.load(new java.io.InputStreamReader(in, UTF_8)) finally in.close()
      Some(props.asScala.toMap)
    } catch {
      // absent, or a directory left by an older layout: rebuild
      case _: java.io.IOException => None
    }

  private def writeMeta(fs: FileSystem, meta: Path, entries: Map[String, String]): Unit = {
    val props = new java.util.Properties()
    props.putAll(entries.asJava)
    val tmp = new Path(meta.toString + ".tmp")
    val out = fs.create(tmp, true)
    try props.store(new java.io.OutputStreamWriter(out, UTF_8), null) finally out.close()
    if (!fs.rename(tmp, meta))
      throw new java.io.IOException(s"PersistedIndex: cannot publish $tmp -> $meta")
  }
}
