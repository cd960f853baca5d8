package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprint of a query result: the row count
  * plus the sum of a 64-bit hash over every column of every row.
  *
  * The timed action computes this instead of `count()`, because a bare
  * count lets Catalyst prune every column the count does not need, and
  * the benchmark must pay for computing the whole output. A sum is
  * commutative, so neither row order nor partitioning changes the result.
  * The 64-bit hashes are summed as two 32-bit halves so the long sums
  * cannot overflow (ANSI mode would fail the query) below 2^31 rows. */
object Fingerprint {

  final case class Fp(rows: Long, lo: Long, hi: Long) {
    override def toString: String = f"$rows:$hi%x:$lo%x"
  }

  /** The single-row aggregate whose collect is the timed action. */
  def frame(df: DataFrame): DataFrame = {
    // Positional renames: joined outputs may carry duplicate or dotted
    // column names that a by-name reference would reject.
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  def collect(fpFrame: DataFrame): Fp = {
    val r = fpFrame.collect()(0)
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def of(df: DataFrame): Fp = collect(frame(df))

  /** Spark refuses to hash maps; hash their entries in key order instead,
    * so two equal maps hash alike whatever order they were built in. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ if containsMap(t) => to_json(c)
    case _ => c
  }

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }
}
