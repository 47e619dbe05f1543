package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** Every argument that shapes a memoized result is part of its memo key:
  * an op called with a non-default value after a default call returns
  * what the same call returns under keys nothing has built yet. The
  * fresh keys come from `<sf>/.`, the same files under another dir
  * string.
  */
class MemoKeySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  private val fresh = s"$sf/."

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("ann_ivf_pq keys its cell-tagged index on the cell count") {
    rows(Similarity.annIvfPq(spark, sf))
    val second = rows(Similarity.annIvfPq(spark, sf, cells = 4))
    assert(second.nonEmpty)
    assert(second == rows(Similarity.annIvfPq(spark, fresh, cells = 4)),
      "cells = 4 after a default call served another cell count's index")
  }

  test("ann_cell_split keys its audit on nprobe") {
    rows(Similarity.annCellSplit(spark, sf))
    val second = rows(Similarity.annCellSplit(spark, sf, nprobe = 3))
    assert(second.nonEmpty)
    assert(second == rows(Similarity.annCellSplit(spark, fresh, nprobe = 3)),
      "nprobe = 3 after a default call returned another nprobe's audit")
  }
}
