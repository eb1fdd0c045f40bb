package graft.bio

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The A2 count gate (one window count per group) keeps exactly the rows
  * the textbook formulation keeps: count hits per group, filter strictly
  * above the threshold, left-semi join the detail rows back. Seeded random
  * hit tables, with groups sized exactly at the threshold (dropped by the
  * strict `>`) and `required = 0`.
  */
class PrefilterGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The count + left-semi reference formulation. */
  private def reference(hits: DataFrame, groupCols: Seq[String],
      required: Int): DataFrame = {
    val keep = hits.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > required)
      .select(groupCols.map(col): _*)
    hits.join(keep, groupCols, "left_semi").select(hits.columns.map(col): _*)
  }

  /** Hit rows (dbId, targetId, queryId, kmerPos, kmer, diag): each group
    * gets 1..6 hits, and the group (0, 0, 0) exactly `exactly` hits;
    * duplicate detail rows occur (the expanded query table repeats them).
    */
  private def hitTable(seed: Int, exactly: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val groups = for (db <- 0 until 2; t <- 0 until 6; q <- 0 until 5)
      yield (db.toLong, t.toLong, q.toLong)
    val rows = groups.flatMap { case g @ (db, t, q) =>
      val n = if (g == ((0L, 0L, 0L))) exactly else 1 + rnd.nextInt(6)
      Seq.fill(n) {
        val pos = rnd.nextInt(4)
        (db, t, q, pos, rnd.nextInt(3).toLong, pos - rnd.nextInt(3))
      }
    }
    rows.toDF("dbId", "targetId", "queryId", "kmerPos", "kmer", "diag")
      .repartition(3)
  }

  private def rowsOf(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("window-count gate == count + left-semi on seeded random hit tables") {
    for (seed <- 1 to 3; required <- Seq(0, 1, 2, 4)) {
      val hits = hitTable(seed, exactly = math.max(required, 1)).cache()
      for (groupCols <- Seq(Seq("targetId", "queryId"),
          Seq("dbId", "targetId", "queryId"))) {
        val got = Prefilter.countGate(hits, groupCols, required)
        assert(got.columns.toSeq == hits.columns.toSeq)
        val (g, w) = (rowsOf(got), rowsOf(reference(hits, groupCols, required)))
        assert(g == w, s"seed $seed, required $required, $groupCols: " +
          s"${(g.toSet -- w.toSet).size} rows only in the gate, " +
          s"${(w.toSet -- g.toSet).size} only in the reference")
      }
      // the group sized exactly at the threshold is dropped by the strict >
      if (required > 0)
        assert(Prefilter.countGate(hits, Seq("dbId", "targetId", "queryId"), required)
          .filter($"dbId" === 0 && $"targetId" === 0 && $"queryId" === 0).isEmpty)
      hits.unpersist()
    }
  }
}
