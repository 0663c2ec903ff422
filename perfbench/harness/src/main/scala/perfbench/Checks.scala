package perfbench

import org.apache.spark.sql.Row

import graft.ir.{RelPlan, RelationLeaf}

/** Output checks made apart from the program. */
object Checks {
  /** q115: each merge's symbol is its two parts joined, and pair counts
    * never rise with rank. */
  def bpeMerges(rows: Array[Row]): Boolean = {
    val ms = rows.map(r => (r.getAs[Number]("rank").longValue, r.getAs[String]("left_sym"),
      r.getAs[String]("right_sym"), r.getAs[String]("merged"), r.getAs[Number]("pair_count").longValue))
      .sortBy(_._1)
    ms.nonEmpty && ms.forall { case (_, l, r, m, _) => m == l + r } &&
      ms.map(_._5).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))
  }

  /** Tables a captured lab plan scans. */
  def scannedTables(planJson: String): Set[String] =
    "\"kind\":\"Scan\",\"detail\":\"([A-Za-z0-9_]+)".r.findAllMatchIn(planJson).map(_.group(1)).toSet

  /** Tables a parsed plan names. */
  def planTables(p: RelPlan): Set[String] = p match {
    case RelationLeaf(t, _) => Set(t.toLowerCase)
    case other => other.children.flatMap(planTables).toSet
  }
}
