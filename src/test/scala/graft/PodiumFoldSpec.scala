package graft

import graft.motogp.MotoGpPipelines
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The rider table's podium counts: one fused aggregate must equal the
  * reference's four filtered `Group by` legs joined 5-way INNER with the
  * rider dimension. */
class PodiumFoldSpec extends SparkSpec {
  import spark.implicits._

  /** The four-leg INNER join, as the reference's Multiway merge join. */
  private def fourLegOracle(riderDim: DataFrame, results: DataFrame): DataFrame = {
    def leg(cond: Column, as: String): DataFrame =
      results.filter(cond).groupBy("rider_id").agg(count(lit(1)).as(as))
    riderDim
      .join(leg(col("position") === 1, "1st_pos"), Seq("rider_id"), "inner")
      .join(leg(col("position") === 3, "3rd_pos"), Seq("rider_id"), "inner")
      .join(leg(!col("position").isin(1, 2, 3), "other_pos"), Seq("rider_id"), "inner")
      .join(leg(col("position") === 2, "2nd_pos"), Seq("rider_id"), "inner")
      .select(col("rider"), col("rider_id"), col("country"), col("number"),
        col("1st_pos"), col("3rd_pos"), col("2nd_pos"), col("other_pos"),
        col("id_rider_seq"))
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("podiumAgg equals the four-leg INNER join: missing classes, null positions, doubled riders") {
    // rider 4 ("NELLO PAGANI") appears twice in the dimension, which
    // doubles his results rows and his output rows
    val riderDim = Seq(
      ("LESLIE GRAHAM", 1L, "GB", 1, 1L), ("NO THIRD", 2L, "IT", 2, 2L),
      ("WITH NULLS", 3L, "ES", 3, 3L), ("NELLO PAGANI", 4L, "IT", 4, 4L),
      ("NELLO PAGANI", 4L, "IT", 4, 5L), ("ONLY NULLS", 5L, "FR", 5, 6L),
      ("NO RESULTS", 6L, "DE", 6, 7L))
      .toDF("rider", "rider_id", "country", "number", "id_rider_seq")
    val positions: Seq[(Long, Option[Int])] =
      Seq(1, 2, 3, 5, 1).map(p => (1L, Some(p))) ++
        Seq(1, 2, 5, 9).map(p => (2L, Some(p))) ++
        (Seq(1, 2, 3, 7).map(p => (3L, Some(p))) ++ Seq((3L, None), (3L, None))) ++
        Seq(1, 2, 3, 4).map(p => (4L, Some(p))) ++
        Seq((5L, None), (5L, None)) ++
        Seq((99L, Some(1)))
    val results = riderDim.join(
      positions.toDF("rider_id_1", "position"),
      col("rider_id") === col("rider_id_1"), "inner")

    val fused = MotoGpPipelines.podiumAgg(riderDim, results)
    val oracle = fourLegOracle(riderDim, results)
    assert(fused.columns.toSeq == oracle.columns.toSeq)
    assert(fused.count() == oracle.count())
    assert(bag(fused) == bag(oracle))
    // riders 1, 3 and both rows of 4 survive; 2, 5 and 6 drop
    assert(fused.select("id_rider_seq").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L))
    val pagani = fused.filter(col("rider_id") === 4L)
      .select("1st_pos", "2nd_pos", "3rd_pos", "other_pos")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pagani == Set((2L, 2L, 2L, 2L)))
  }
}
