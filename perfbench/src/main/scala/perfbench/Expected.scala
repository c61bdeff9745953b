package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The committed expected results (expected.tsv: query, rows, digest,
  * oracle status), and the mode that derives them. */
object Expected {

  def load(tsv: Path): Map[String, Fingerprint] =
    Files.readAllLines(tsv).asScala.drop(1).filter(_.trim.nonEmpty).map { line =>
      val f = line.split("\t")
      f(0) -> Fingerprint(f(1).toLong, f(2))
    }.toMap

  /** Runs every workload query once on `data`: fingerprints its result,
    * writes its rows under `dump/<query>` and the program's oracle SQL to
    * `dump/oracle_sql.json`, for derive_expected.py to compare with DuckDB.
    * Oracle SQL that replays a value the query run stashed (a trained
    * codebook, an auto-sized knob) resolves because this JVM has run
    * queries against one data directory only.
    * The fingerprint is taken twice, of the frame and of the rows read back
    * from the dump, so the dumped rows are the fingerprinted ones. */
  def derive(spark: SparkSession, data: String, dump: Path): String = {
    Files.createDirectories(dump)
    val queries = Workloads.all.values.flatten.toSeq.sorted
    val rows = queries.map { q =>
      val res = try {
        val df = graft.SparkEntry.queries(q)(spark, data)
        val fp = Fingerprint.of(df)
        val dir = dump.resolve(q).toString
        df.coalesce(1).write.mode("overwrite").parquet(dir)
        val back = Fingerprint.of(spark.read.parquet(dir))
        Seq("rows" -> Json.num(fp.rows), "digest" -> Json.str(fp.digest),
          "dumped_rows" -> Json.num(back.rows), "dumped_digest" -> Json.str(back.digest))
      } catch {
        case NonFatal(e) => Seq("error" -> Json.str(s"${e.getClass.getName}: ${e.getMessage}"))
      } finally spark.catalog.clearCache()
      q -> Json.obj(res)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(dump.resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    Json.obj(rows)
  }
}
