package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** J7 — iterative successor resolution: the transitive closure of an edge
  * list (reference: scripts/org-changes/build_trust_lookup.R:66-84 while-loop;
  * scripts/org-changes/build_all_org_changes.R:62-106 bounded 10 iterations).
  *
  * Re-expressed with pointer doubling over the *edge* relation: iteration k
  * holds a mapping m(x) = the up-to-2^k-step successor of x (terminal
  * absorbed), built by composing m with itself. Multi-successor "splits"
  * multiply rows through the composition (the reference's `unnest`,
  * build_all_org_changes.R:96).
  *
  * Scale posture: succession chains are edge-list-sized (~700 rows in the
  * reference) while the node table being re-keyed can be arbitrarily large.
  * The edges are collected ONCE and doubled on the driver — the converged
  * mapping holds at least one row per edge and feeds a broadcast join, so
  * it had to fit on the driver anyway — then exactly ONE broadcast join
  * runs against the distributed node table: zero shuffles of the big side
  * and no per-iteration Spark jobs. Iterations are bounded to guard against
  * cyclic input.
  */
object Closure {

  /** The driver kernel: edge i runs from join key `src(i)` to `dst(i)`; a
    * null key matches nothing, as in a join. Each doubling composes every
    * mapping row whose end is some row's start with ALL those rows, so
    * splits and duplicate edges multiply rows exactly as the relational
    * self-join `m ⟕ m ON m.dst = m.src` would; like that join's
    * `coalesce(next.dst, dst)`, composing onto a null `dst` keeps the
    * row's end, so such a row extends until the `maxIter` guard.
    *
    * @return the converged mapping as (i, j, hops): a path from `src(i)`
    *         ending at `dst(j)` after `hops` edges
    */
  def double[K](src: Array[K], dst: Array[K], maxIter: Int = 30): Array[(Int, Int, Int)] = {
    var m = src.indices.map(i => (i, i, 1)).toArray
    var iter = 0
    var extending = true
    while (extending && iter < maxIter) {
      val bySrc = m.groupBy(r => src(r._1))
      extending = false
      m = m.flatMap { case (i, j, h) =>
        (if (dst(j) == null) None else bySrc.get(dst(j))) match {
          case Some(next) =>
            extending = true
            next.map { case (_, j2, h2) =>
              (i, if (dst(j2) == null) j else j2, Math.addExact(h, h2)) }
          case None => Array((i, j, h))
        }
      }
      iter += 1
    }
    require(!extending,
      s"Closure.resolve: still extending after $maxIter doublings (cyclic edges?)")
    m
  }

  /** Spark's join equality as a driver map key: binary ids compare by
    * content; floating-point ids by their bits after `+ 0.0` folds -0.0
    * into 0.0 (`doubleToLongBits` already folds every NaN into one), as
    * Spark's NormalizeFloatingNumbers does. Types whose Spark equality is
    * not the collected value's `equals` (collated strings, complex types)
    * are rejected.
    */
  private def joinKey(t: DataType): Any => Any = t match {
    case BinaryType => { case b: Array[Byte] => java.nio.ByteBuffer.wrap(b); case v => v }
    case DoubleType => { case d: Double => java.lang.Double.doubleToLongBits(d + 0.0d); case v => v }
    case FloatType => { case f: Float => java.lang.Float.floatToIntBits(f + 0.0f); case v => v }
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | _: DecimalType => identity
    case other => throw new IllegalArgumentException(
      s"Closure.resolve: unsupported id type ${other.simpleString}")
  }

  /** Resolve every `node` to its terminal successor(s).
    *
    * @param nodes single-column frame `node`
    * @param edges two-column frame `src`, `dst`; rows multiply on splits
    * @return frame (`old_code`, `final_code`, `hops`)
    */
  def resolve(nodes: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // key both ends in the one type the join `dst = src` would coerce them to
    val keyType = e.select(coalesce(col("src"), col("dst"))).schema.head.dataType
    val key = joinKey(keyType)
    val rows = e.select(col("src"), col("dst"),
      col("src").cast(keyType), col("dst").cast(keyType)).collect()
    val m = double(rows.map(r => key(r.get(2))), rows.map(r => key(r.get(3))), maxIter)
    val local = edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(m.map { case (i, j, h) => Row(rows(i).get(0), rows(j).get(1), h) }: _*),
      e.schema.add("hops", IntegerType, nullable = false))
    nodes
      .join(broadcast(local), nodes("node") === local("src"), "left")
      .select(
        col("node").as("old_code"),
        coalesce(col("dst"), col("node")).as("final_code"),
        coalesce(col("hops"), lit(0)).as("hops"))
  }
}
