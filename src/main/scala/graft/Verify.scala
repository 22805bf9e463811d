package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Queries run concurrently (Spark schedules the jobs); each output is
  * repartition(1)-ed — NOT coalesce(1), which would collapse the whole
  * upstream plan into a single task. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameFilter] — the optional third arg
    // restricts the run to queries whose name contains the substring
    // (builder-side iteration; the driver always passes two args).
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean =
      if (args.length > 2) _.contains(args(2)) else _ => true
    // every invocation computes from the parquet inputs: drop any ANN
    // index a previous process published for this corpus
    SparkEntry.purgePersistedIndexes(sfDir)
    val spark = Defaults.sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val pool = Executors.newFixedThreadPool(math.min(8, SparkEntry.queries.size max 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq.filter(kv => nameFilter(kv._1)).map { case (name, fn) =>
      Future {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch {
          case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter(kv => nameFilter(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a JSON string literal — the one escaper every graft JSON
    * writer uses: backslash, quote, and ALL control chars (<0x20). A
    * tab or CR in an oracle SQL string would otherwise make the
    * oracle compare's `json.load` of oracle_sql.json fail; a newline
    * in a report field would split a line-mode JSON record. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
