package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver pointer-doubling kernel behind [[Closure.resolve]] against
  * the relational form it replaces — `m ⟕ m ON m.dst = m.src` until no row
  * extends — on fan-out, duplicates, nulls and every supported id type,
  * compared bit for bit (binary ids by content, doubles by raw bits).
  */
class ClosureSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Reference: the self-join doubling, materialized every round. */
  private def joinClosure(nodes: DataFrame, edges: DataFrame): DataFrame = {
    var m = edges.select(col("src"), col("dst"), lit(1).as("hops"))
    var extending = true
    var iter = 0
    while (extending && iter < 30) {
      iter += 1
      val b = m.select(col("src").as("b_src"), col("dst").as("b_dst"), col("hops").as("b_hops"))
      val composed = m.join(b, m("dst") === b("b_src"), "left").select(col("src"),
        coalesce(col("b_dst"), col("dst")).as("dst"),
        (col("hops") + coalesce(col("b_hops"), lit(0))).as("hops"),
        col("b_src").isNotNull.as("extended"))
      val rows = composed.collect()
      extending = rows.exists(_.getBoolean(3))
      m = spark.createDataFrame(java.util.Arrays.asList(rows: _*), composed.schema).drop("extended")
    }
    require(!extending, "Closure.resolve: still extending after 30 doublings (cyclic edges?)")
    nodes.join(broadcast(m), nodes("node") === m("src"), "left").select(
      col("node").as("old_code"),
      coalesce(col("dst"), col("node")).as("final_code"),
      coalesce(col("hops"), lit(0)).as("hops"))
  }

  private def exact(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map(exact)).groupBy(identity).map { case (k, v) => k -> v.size }

  /** The result multiset, or the guard's message. */
  private def outcome(df: => DataFrame): Either[String, Map[Seq[Any], Int]] =
    try Right(bag(df)) catch { case e: IllegalArgumentException => Left(e.getMessage) }

  /** Resolves like the self-join and returns the kernel's multiset. */
  private def matchesJoin(nodes: DataFrame, edges: DataFrame): Map[Seq[Any], Int] = {
    val got = outcome(Closure.resolve(nodes, edges))
    assert(got == outcome(joinClosure(nodes, edges)))
    if (got.isRight)
      assert(Closure.resolve(nodes, edges).schema == joinClosure(nodes, edges).schema)
    got.getOrElse(Map.empty)
  }

  test("diamond fan-out yields two rows of 2 hops") {
    val got = matchesJoin(Seq("a").toDF("node"),
      Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d").toDF("src", "dst"))
    assert(got == Map(Seq("a", "d", 2) -> 2))
  }

  test("duplicate edges multiply rows like the join") {
    val got = matchesJoin(Seq("a", "b").toDF("node"),
      Seq("a" -> "b", "a" -> "b", "b" -> "c").toDF("src", "dst"))
    assert(got == Map(Seq("a", "c", 2) -> 2, Seq("b", "c", 1) -> 1))
  }

  test("null src and dst match nothing, as in the join") {
    val s: String = null
    val got = matchesJoin(Seq("a", "b", "x", s).toDF("node"),
      Seq(s -> "a", "a" -> "b", "x" -> s, s -> s).toDF("src", "dst"))
    assert(got == Map(Seq("a", "b", 1) -> 1, Seq("b", "b", 0) -> 1, Seq("x", "x", 1) -> 1,
      Seq(s, s, 0) -> 1))
    // a null dst reached through another edge keeps extending in both forms
    assert(matchesJoin(Seq("a").toDF("node"),
      Seq("a" -> "b", "b" -> s).toDF("src", "dst")).isEmpty)
  }

  test("Long, String, Date and mixed Int/Long ids match the join") {
    val chain = Seq(1 -> 2, 2 -> 4, 3 -> 4, 4 -> 8, 5 -> 6, 5 -> 7)
    val nodes = (1 to 9).toSeq
    matchesJoin(nodes.map(_.toLong).toDF("node"),
      chain.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst"))
    matchesJoin(nodes.map(i => s"c$i").toDF("node"),
      chain.map { case (a, b) => (s"c$a", s"c$b") }.toDF("src", "dst"))
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2000, 1, i))
    matchesJoin(nodes.map(day).toDF("node"),
      chain.map { case (a, b) => (day(a), day(b)) }.toDF("src", "dst"))
    matchesJoin(nodes.map(_.toLong).toDF("node"),
      chain.map { case (a, b) => (a, b.toLong) }.toDF("src", "dst"))
  }

  test("Double ids compare as the join does: -0.0 = 0.0 and NaN = NaN") {
    val got = matchesJoin(Seq(1.0, 4.0).toDF("node"),
      Seq(1.0 -> -0.0, 0.0 -> 2.0, 4.0 -> Double.NaN, Double.NaN -> 3.0).toDF("src", "dst"))
    assert(got == Map(Seq[Any](1.0, 2.0, 2).map(exact) -> 1, Seq[Any](4.0, 3.0, 2).map(exact) -> 1))
  }

  test("binary ids compare by content") {
    def b(i: Int) = Array[Byte](i.toByte, 7)
    val got = matchesJoin(Seq(b(1)).toDF("node"), Seq(b(1) -> b(2), b(2) -> b(3)).toDF("src", "dst"))
    assert(got == Map(Seq[Any](b(1), b(3), 2).map(exact) -> 1))
  }

  test("ids without a driver-exact equality are rejected") {
    val e = intercept[IllegalArgumentException] {
      Closure.resolve(Seq(Seq(1)).toDF("node"), Seq(Seq(1) -> Seq(2)).toDF("src", "dst"))
    }
    assert(e.getMessage.contains("unsupported id type array<int>"))
  }

  test("a cycle stops at the maxIter guard") {
    val e = intercept[IllegalArgumentException] {
      Closure.resolve(Seq("a").toDF("node"), Seq("a" -> "b", "b" -> "c", "c" -> "a").toDF("src", "dst"))
    }
    assert(e.getMessage.contains("still extending after 30 doublings (cyclic edges?)"))
  }
}
