package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is reported and skipped; once every result and oracle_sql.json
  * are written, any failure makes the process exit 1.
  *
  * Each query is built under its own job group, and a listener counts
  * the Spark jobs started while building (schema inference, eager
  * writes, collects). After the session stops, and so after every
  * listener event has been delivered, Verify prints each query's count
  * and the catalog total as `[verify] construction jobs: N`. */
object Verify {
  private val BuildGroup = "verify-build:"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val buildJobs = mutable.Map.empty[String, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(BuildGroup))
          .foreach { g =>
            val q = g.stripPrefix(BuildGroup)
            buildJobs.synchronized {
              buildJobs(q) = buildJobs.getOrElse(q, 0) + 1
            }
          }
    })
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: a comma-separated allowlist of query
    // names; unset = the full catalog (driver mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val sc = spark.sparkContext
    val failed = selected.flatMap { case (name, fn) =>
      try {
        sc.setJobGroup(BuildGroup + name, s"build $name")
        val df = try fn(spark, sfDir) finally sc.clearJobGroup()
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
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
    spark.stop()
    for ((name, _) <- selected.sortBy(_._1))
      println(s"[verify] $name construction jobs: " +
        buildJobs.getOrElse(name, 0))
    println(s"[verify] construction jobs: ${buildJobs.values.sum}")
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
