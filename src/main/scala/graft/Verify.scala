package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare, and verify_status.json: per
  * query {"status": "ok" | "failed", "error": exception class or null,
  * "wall_s"}. A failed query is also named on the last stderr line; the
  * exit code does not change. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (builder only — the driver sets no env):
    // SPARK_GRAFT_ONLY=q53,q70 runs just the named prefixes
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // per query: (name, error class or null, wall seconds)
    val status = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          null
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          e.getClass.getName
        }
      (name, err, (System.nanoTime() - t0) / 1e9)
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
    // The oracle strings are authored against the sf0.01 geo-table paths
    // (the driver's gate SF); when Verify runs at another SF, point them
    // at that SF's synthesized dir so local runs compare like-for-like.
    val geoDir = graft.data.GeoTables.baseDir(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("/tmp/graft_geo/sf0.01", geoDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), status.map { case (name, err, wall) =>
      val e = Option(err).map(q).getOrElse("null")
      val w = "%.3f".formatLocal(java.util.Locale.ROOT, wall)
      s"""${q(name)}: {"status": ${q(if (err == null) "ok" else "failed")}, "error": $e, "wall_s": $w}"""
    }.mkString("{", ",", "}"))
    val failed = status.collect { case (name, err, _) if err != null => name }
    System.err.println(s"[verify] ${status.size - failed.size}/${status.size} ok" +
      (if (failed.isEmpty) "" else s"; failed: ${failed.mkString(", ")}"))
    spark.stop()
  }
}
