package graft.pipelines

import graft.ops.Closure
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Full re-derivation of the succession-paths table from a raw successor
  * edge list — scripts/org-changes/build_all_org_changes.R:62-231, the
  * richest relational program in the reference: iterative path expansion
  * with per-hop dates and change types, name-change vs merger refinement,
  * split detection, and the complicated/adjacent-path classification.
  *
  * Scale posture: the edge list (organisational changes) is tiny relative
  * to any fact table — change-EVENT-sized, thousands of rows for a national
  * registry over decades — and every expanded path holds at least one edge,
  * so the finished table is no smaller than the edge list. The edge list is
  * collected ONCE; the expansion, refinement and classification all run
  * driver-side on it, and the finished table is a local relation for
  * downstream broadcast use (the same bounded-artifact contract as the
  * closure mapping and IVF centroids). Run as Spark joins, the same steps
  * cost a job-scheduling latency per step at any data size.
  *
  * Input schema: (old_code, new_code, change_date) — one row per
  * succession edge; multiple rows per old_code encode a split.
  * Output schema = the committed all_org_changes_paths CSV.
  */
object OrgChangePaths {

  def derivePaths(successors: DataFrame, maxHops: Int = 3): DataFrame = {
    val succ = successors.select(col("old_code"), col("new_code"), col("change_date"))
    val edgeRows = succ.collect()
    def str(r: Row, i: Int): String = if (r.isNullAt(i)) null else r.getString(i)
    // a src with >1 successors (duplicate edges included) is a split — every
    // branch row is typed 'split' (build_all_org_changes.R:100-102:
    // lengths(new_code_var) > 1)
    val bySrc: Map[String, Array[Row]] = edgeRows.filter(!_.isNullAt(0)).groupBy(_.getString(0))

    // One mutable record per chain; ct is the refinement's working copy.
    final class Chain(val nc: Array[String], val date: Array[Any], val ct: Array[String]) {
      def old: String = nc(0)
      def hasCt(v: String): Boolean = (1 to maxHops).exists(i => ct(i) == v)
      var finalCode: String = _
      var split: Boolean = false
      var dpc: String = "no"
      var adj: Int = 0
      var inCompl: Boolean = false
    }
    // Every code ever seen starts its own chain (R:62-68) and follows up to
    // maxHops edges, one chain per branch; codes that never changed drop
    // out (the !is.na(new_code_1) filter).
    var chains = edgeRows.flatMap(r => Seq(str(r, 0), str(r, 1))).filter(_ != null).distinct
      .map(c => (Vector(c), Vector[Any](null), Vector[String](null)))
    for (_ <- 1 to maxHops) chains = chains.flatMap { case (nc, d, ct) =>
      bySrc.get(nc.last) match {
        case Some(es) => es.map(e => (nc :+ str(e, 1), d :+ e.get(2),
          ct :+ (if (e.isNullAt(1)) null else if (es.length > 1) "split" else "merger_or_name_change")))
        case None => Array((nc :+ null, d :+ null, ct :+ null))
      }
    }
    val paths = chains.collect { case (nc, d, ct) if nc(1) != null =>
      new Chain(nc.toArray, d.toArray, ct.toArray) }

    // original paths = chains not contained in a longer one (R:112-117)
    val succCodes: Set[String] =
      paths.iterator.flatMap(c => (1 to maxHops).iterator.map(c.nc(_))).filter(_ != null).toSet
    val o = paths.filter(c => !succCodes.contains(c.old))

    // name-change refinement (R:119-144): a merger target reached from only
    // ONE distinct predecessor is a pure renaming, not a merger — every row
    // with that target is relabeled (whatever its own change type), then
    // the remaining merger_or_name_change downgrade to merger. Rounds are
    // independent: round i writes only ct(i) and reads nc(i-1)/nc(i)/ct(i).
    for (i <- 1 to maxHops) {
      val nameChanged: Set[String] = o.filter(_.nc(i) != null).groupBy(_.nc(i))
        .collect { case (target, rows)
          if rows.iterator.map(_.nc(i - 1)).distinct.size == 1 &&
            rows.exists(_.ct(i) == "merger_or_name_change") => target }
        .toSet
      o.foreach { c =>
        if (c.nc(i) != null && nameChanged.contains(c.nc(i))) c.ct(i) = "name_change"
        else if (c.ct(i) == "merger_or_name_change") c.ct(i) = "merger"
      }
    }

    o.foreach { c =>
      c.finalCode = (maxHops to 1 by -1).iterator.map(c.nc(_)).find(_ != null).orNull
      c.split = c.hasCt("split")
    }

    // complicated-path classification (R:152-231), on the chains touching
    // any code of a splitting chain
    val linked: Set[String] = o.iterator.filter(_.split)
      .flatMap(c => (c.old +: (1 to maxHops).map(c.nc(_))).filter(_ != null)).toSet
    val compl = o.filter(c =>
      (c.old +: (1 to maxHops).map(c.nc(_))).exists(x => x != null && linked.contains(x)))
    compl.foreach { c =>
      c.inCompl = true
      c.dpc =
        if (c.hasCt("merger") && c.split) "later_merger"
        else if (c.hasCt("name_change") && c.split) "later_name_change"
        else "no"
      c.adj = if (!c.split) 1 else 0
    }

    // a target multiple distinct trusts split INTO is itself complicated
    // (R:196-216); rounds are sequential — round i reads round i-1's labels
    for (i <- 1 to maxHops) {
      val sfm: Set[String] = compl.iterator
        .filter(c => c.ct(i) == "split" && c.dpc == "no").toSeq
        .groupBy(_.nc(i))
        .collect { case (target, rows)
          if rows.iterator.map(_.nc(i - 1)).distinct.size > 1 => target }
        .toSet
      compl.foreach { c =>
        if (c.nc(i) != null && sfm.contains(c.nc(i)) && c.adj == 0)
          c.dpc = "split_from_multiple"
      }
    }

    // a clean split with one branch feeding a split_from_multiple target is
    // adjacent to the complication (R:218-226)
    val sic: Set[String] =
      compl.iterator.filter(_.dpc == "split_from_multiple").map(_.old).toSet
    compl.foreach { c => if (sic.contains(c.old) && c.dpc == "no") c.adj = 1 }

    // chains ending cleanly everywhere are NOT complicated (R:228-236);
    // everything else sharing that final code is
    val ncs: Set[String] = compl.groupBy(_.finalCode)
      .collect { case (f, rows)
        if rows.forall(_.adj == 0) && rows.forall(_.dpc == "no") => f }.toSet
    val pcp: Set[String] = compl.iterator.map(_.finalCode).toSet -- ncs

    // re-attach the classification by full code chain (plyr::join on the
    // common columns, R:239-244): only chains whose final code is part of
    // a complicated path keep their labels; everything else resets to the
    // clean defaults.
    val rows: Array[Row] = o.map { c =>
      val keep = c.inCompl && pcp.contains(c.finalCode)
      Row.fromSeq(
        Seq(c.old, c.nc(0)) ++ (1 to maxHops).flatMap(i => Seq(c.nc(i), c.date(i), c.ct(i))) ++ Seq(
          c.finalCode,
          if (c.split) 1 else 0,
          if (keep) c.dpc else "no",
          if (keep) c.adj else 0,
          if (pcp.contains(c.finalCode)) 1 else 0))
    }
    val dateType = succ.schema("change_date").dataType
    val outSchema = StructType(
      Seq(StructField("old_code", StringType), StructField("new_code_0", StringType)) ++
        (1 to maxHops).flatMap(i => Seq(StructField(s"new_code_$i", StringType),
          StructField(s"date_change_$i", dateType), StructField(s"change_type_$i", StringType))) ++
        Seq(StructField("final_code", StringType),
          StructField("experiences_split", IntegerType, nullable = false),
          StructField("direct_path_complicated", StringType, nullable = false),
          StructField("adjacent_to_complicated", IntegerType, nullable = false),
          StructField("part_of_complicated_path", IntegerType, nullable = false)))
    successors.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
  }
}

/** Org-change lookup derivations over the committed succession-paths table
  * (`data/org-changes/all_org_changes_paths_2000_2018.csv`), re-expressing
  * scripts/org-changes/build_trust_lookup.R. The table is collected once
  * and the closure runs on the driver kernel of the generic
  * [[graft.ops.Closure]] pointer-doubling operator, so both results are
  * local relations: a lookup referenced many times downstream broadcasts
  * its rows without re-planning or re-running the closure.
  */
object OrgChanges {

  /** The paths table's chain columns, in hop order. */
  private val ChainCols = Seq("old_code", "new_code_0", "new_code_1", "new_code_2", "new_code_3")

  /** (old_code, final_code, hops) for every code of the collected chains
    * (old_code and hops new_code_1..3; NA-terminated), over the edges
    * new_code_{k-1} → new_code_k. Codes without a successor map to
    * themselves at 0 hops; a split yields one row per terminal branch.
    */
  private def closure(rows: Array[Row]): Array[(String, String, Int)] = {
    def code(r: Row, i: Int): Option[String] =
      Option(r.getString(i)).filter(_ != "NA")
    val edges = rows.flatMap(r => (2 to 4).flatMap(i => code(r, i).map(r.getString(i - 1) -> _))).distinct
    val nodes = rows.flatMap(r => (0 +: (2 to 4)).flatMap(code(r, _))).distinct
    val bySrc = Closure.double(edges.map(_._1), edges.map(_._2)).groupBy(p => edges(p._1)._1)
    nodes.flatMap(x => bySrc.get(x) match {
      case Some(ps) => ps.map { case (_, j, h) => (x, edges(j)._2, h) }
      case None => Array((x, x, 0))
    })
  }

  /** (old_code, final_code, hops): closure of every known code. */
  def resolved(paths: DataFrame): DataFrame = paths.sparkSession.createDataFrame(
    java.util.Arrays.asList(closure(paths.select(ChainCols.map(col): _*).collect())
      .map { case (o, f, h) => Row(o, f, h) }: _*),
    StructType(Seq(StructField("old_code", StringType), StructField("final_code", StringType),
      StructField("hops", IntegerType, nullable = false))))

  /** Re-derivation of trust_lookup_uncomplicated_changes.csv
    * (build_trust_lookup.R:66-109): closure mapping, minus identity rows,
    * joined to the unproblematic path classification, clean splits re-coded
    * as backwards mergers by swapping old/final (the reference's U6 value
    * swap, build_trust_lookup.R:104-107).
    */
  def trustLookup(paths: DataFrame): DataFrame = {
    val rows = paths.select(ChainCols.map(col) ++ Seq(
      col("part_of_complicated_path") === "0",
      col("experiences_split").cast("int"), col("final_code")): _*).collect()
    val mapping = closure(rows).collect { case (o, f, _) if o != f => (o, f) }.distinct
    // (experiences_split, final_code) of the unproblematic paths, by final_code
    val unproblematic = rows.filter(r => !r.isNullAt(5) && r.getBoolean(5))
      .map(r => (r.get(6), r.getString(7))).distinct.groupBy(_._2)
    val lookup = mapping.flatMap { case (o, f) =>
      unproblematic.get(f) match {
        case None => Array(Row(o, f, null, 1))
        // U6 value swap: clean splits become backwards mergers
        case Some(us) => us.map { case (split, _) =>
          if (split == 1) Row(f, o, split, 0) else Row(o, f, split, if (split == null) 1 else 0) }
      }
    }
    paths.sparkSession.createDataFrame(java.util.Arrays.asList(lookup: _*),
      StructType(Seq(StructField("old_code", StringType), StructField("final_code", StringType),
        StructField("experiences_split", IntegerType),
        StructField("problematic", IntegerType, nullable = false))))
  }
}
