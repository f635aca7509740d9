package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** An atlas-class (p1, p2, …, edge) pair relation pinned ONCE on the
  * driver and indexed for graph kernels that loop over plain arrays
  * instead of driving one Spark job per round.
  *
  *   - The pin is [[Loops.pinRows]], so its PinMaxRows guard holds: a
  *     data-sized pair relation still fails loudly.
  *   - Parcels (every id in p1 or p2, whatever its edge) are indexed
  *     0..n-1 in ASCENDING id order, so index order IS id order and a
  *     "smallest label wins" tie-break can compare indices.
  *   - `nbr(i)` lists the neighbors of parcel i over the edge = 1 pairs
  *     WITH multiplicity: a pair listed twice, or in both orientations,
  *     appears twice, as the oracles' UNION ALL of both orientations
  *     counts it.
  *
  * Kernels hand their integer state back through [[relation]], one
  * LocalRelation whose rows are already in id order; the caller's
  * `selectExpr` then does any rounding in the engine, so doubles come
  * out of the same expressions the oracle SQL evaluates. */
final class DriverGraph private (session: SparkSession, val pField: StructField,
    val ids: Array[Any], val nbr: Array[Array[Int]], index: Map[Long, Int]) {
  def n: Int = ids.length

  /** The index of parcel id `p` (any integral type), if it is a parcel. */
  def indexOf(p: Any): Option[Int] = index.get(DriverGraph.key(p))

  /** A LocalRelation of `rows`: the parcel id `p` (the input's type)
    * followed by `fields`. */
  def relation(fields: StructField*)(rows: Seq[Row]): DataFrame =
    session.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(pField +: fields))

  /** The parcels as a one-column (p) LocalRelation, in id order. */
  def parcels: DataFrame = relation()(ids.toSeq.map(Row(_)))
}

object DriverGraph {
  private def key(p: Any): Long = p.asInstanceOf[Number].longValue

  def apply(pairs: DataFrame): DriverGraph = {
    // the parcel type the relational union of p1 and p2 resolved to
    val pField = pairs.select(col("p1").as("p"))
      .union(pairs.select(col("p2").as("p"))).schema("p")
    val t = pField.dataType
    val rows = Loops.pinRows(pairs.select(col("p1").cast(t), col("p2").cast(t),
      (col("edge") === 1).as("e1")))._2
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "driver graph kernels need non-NULL parcel ids")
    val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .toArray.distinct.sortBy(key)
    val index = ids.iterator.zipWithIndex.map { case (p, i) => key(p) -> i }.toMap
    val nbr = Array.fill(ids.length)(Array.newBuilder[Int])
    for (r <- rows if !r.isNullAt(2) && r.getBoolean(2)) {
      val a = index(key(r.get(0))); val b = index(key(r.get(1)))
      nbr(a) += b; nbr(b) += a
    }
    new DriverGraph(pairs.sparkSession, pField, ids, nbr.map(_.result()), index)
  }
}
