package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Order-insensitive fingerprint of a query result: its row count and the
  * sum, modulo 2^64, of one 64-bit hash per row, tagged with a hash of the
  * schema. Row order does not change it; a changed, added, lost or
  * duplicated row does. */
final case class Fingerprint(rows: Long, digest: String)

object Fingerprint {

  def digest(schema: String, rowHashSum: Long): String =
    f"${rowHashSum}%016x-${scala.util.hashing.MurmurHash3.stringHash(schema)}%08x"

  /** The fingerprint of rows given by their hashes (the reference for
    * [[of]], which computes the same sum inside Spark). */
  def combine(schema: String, rowHashes: Iterator[Long]): Fingerprint = {
    var n = 0L
    var sum = 0L // wraps: addition modulo 2^64
    rowHashes.foreach { h => n += 1; sum += h }
    Fingerprint(n, digest(schema, sum))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Per-row hash: xxhash64 over every column by position (the columns
    * are renamed first, so duplicate or odd names cannot clash). Columns
    * holding maps, which Spark will not hash, are hashed by their JSON
    * text. */
  def rowHashes(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    named.select(xxhash64(cols: _*).as("h"))
  }

  def of(df: DataFrame): Fingerprint = {
    val r = rowHashes(df).select(col("h").cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val n = r.getLong(0)
    val hashSum = if (r.isNullAt(1)) 0L
      else r.getDecimal(1).toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue
    Fingerprint(n, digest(df.schema.simpleString, hashSum))
  }
}
