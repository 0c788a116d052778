package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** The one kept twin of the centroid ranking: s18's coordinator-side
  * [[Similarity.probeCellsFor]] must pick the probe cells the cluster
  * kernel [[Similarity.rankedAgainst]] picks, in the same order, or
  * the point lookup would scan other cells than the batch probes
  * rank. */
class ProbeCellsTwinSpec extends AnyFunSuite {
  import SparkTestSession._

  test("probeCellsFor picks rankedAgainst's top-3 cells, in order, for every vector") {
    val v = Similarity.normed(spark, sf)
    val ranked = Similarity.rankedAgainst(v,
        Similarity.centroidsAt(spark, Similarity.ivfIndexBase(spark, sf)))
      .filter(col("cell_rank") <= 3)
      .select(col("vec_id"), col("cell_rank"), col("cell")).collect()
      .groupBy(_.getLong(0)).map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    val ids = v.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ranked.keySet === ids)
    ranked.toSeq.sortBy(_._1).foreach { case (id, cells) =>
      assert(cells.size === 3)
      assert(Similarity.probeCellsFor(spark, sf, id) === cells,
        s"vec_id $id")
    }
  }
}
