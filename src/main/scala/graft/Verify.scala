package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev runs of a subset;
    // the driver always passes exactly two args = full suite)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) =>
        // tolerate the [q1,q2] spelling; a subset naming NO real query
        // must fail loudly — a vacuous verify looks exactly like a
        // passing one (measured: bracketed names silently matched
        // nothing and oracle_check reported FAILURES: 0 over nothing)
        val names = f.stripPrefix("[").stripSuffix("]").split(',').toSet
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"unknown queries in subset: ${unknown.mkString(", ")}")
        (s, o, Some(names))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
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
    // an oracle generator that threw is its query's failure too: the
    // entry is missing from oracle_sql.json, so its check cannot run
    SparkEntry.oracleSqlFailures
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, msg) =>
        val why = s"oracle SQL generator failed: $msg"
        failed(name) = failed.get(name).fold(why)(e => s"$e; $why")
        System.err.println(s"[verify] $name: $why")
      }
    // A query that throws must surface as an explicit failure, never as a
    // silently-missing report entry (ADVICE r8): dump every error to a
    // sidecar the judge can read, print a prominent summary, and exit
    // nonzero so the runner records the run itself as failed.
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size}/${SparkEntry.queries.size} queries FAILED: " +
          failed.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
