package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** Order-insensitive typed digest of a face's output: the row count, the
  * schema (column names with their Spark types, sorted by name) and the sum
  * of a per-row xxhash64 over the name-sorted columns. xxhash64 hashes each
  * value through its type (an INT and a BIGINT of the same number differ),
  * and the exact DECIMAL sum makes the result independent of row order and
  * partitioning. */
final case class Digest(rows: Long, schema: String, hash: String)

object Digest {
  private def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").sorted.mkString(",")

  /** Row count and schema only; `count()` lets Catalyst prune the columns. */
  def shape(df: DataFrame): Digest = Digest(df.count(), schemaOf(df), "")

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.toSeq.zipWithIndex.sortBy(_._1.name)
    // Positional renames keep duplicate or dotted column names addressable.
    val flat = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val rowHash = xxhash64(fields.map { case (f, i) => hashable(col(s"c$i"), f.dataType) }: _*)
    val r = flat.agg(count(lit(1)), sum(rowHash.cast("decimal(38,0)"))).head()
    val hash = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    Digest(r.getLong(0), schemaOf(df), hash)
  }

  /** xxhash64 refuses map columns; hash their entries sorted by key. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** None when `got` satisfies the expectation, else a one-line cause. */
  def mismatch(expected: (Digest, String), got: Digest): Option[String] = {
    val (e, check) = expected
    if (e.rows != got.rows) Some(s"rows ${got.rows} != expected ${e.rows}")
    else if (e.schema != got.schema) Some(s"schema ${got.schema} != expected ${e.schema}")
    else if (check == "digest" && e.hash != got.hash) Some("row hash differs from expected")
    else None
  }
}
