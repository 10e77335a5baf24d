package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("fixedCellOf assigns argmax dim, ties to the smallest dim") {
    val d = Seq(
      (0L, Array(5.0f, 1.0f, 0.0f)),  // cell 0
      (1L, Array(1.0f, 9.0f, 0.0f)),  // cell 1
      (2L, Array(2.0f, 2.0f, 1.0f))   // tie dims 0,1 -> cell 0
    ).toDF("vec_id", "embedding")
    val cells = d.select(col("vec_id"), Ivf.fixedCellOf("embedding", 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == Map(0L -> 0, 1L -> 1, 2L -> 0))
  }

  test("searchFixed probes the query's top cells and ranks by cosine") {
    // cell structure on dims 0..2; query's top-2 dims are 0 and 1
    val d = Seq(
      (0L, Array(3.0f, 2.0f, 0.0f)),  // query: probes cells {0, 1}
      (1L, Array(4.0f, 2.5f, 0.0f)),  // cell 0, nearly parallel to query
      (2L, Array(0.0f, 5.0f, 0.0f)),  // cell 1
      (3L, Array(0.0f, 0.0f, 9.0f))   // cell 2: NOT probed
    ).toDF("vec_id", "embedding")
    val hits = Ivf.searchFixed(d, "vec_id", "embedding",
      queryId = 0L, k = 10, cells = 3, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(hits == Seq(1L, 2L)) // ranked by cosine, cell-2 vector excluded
  }

  test("searchKMeansTrained probes the trained cells nearest the query " +
      "and ranks candidates by exact cosine") {
    // two planted blobs + one outlier; k=2 trained cells separate the
    // blobs, nprobe=1 restricts candidates to the query's own blob
    val d = Seq(
      (0L, Array(10.0f, 10.0f)),   // query, blob A (seeds cell 0)
      (1L, Array(-10.0f, 10.0f)),  // blob B (seeds cell 1)
      (2L, Array(11.0f, 9.5f)),    // blob A — must rank first (cos)
      (3L, Array(9.0f, 12.0f)),    // blob A
      (4L, Array(-9.5f, 11.0f)),   // blob B: excluded by nprobe=1
      (5L, Array(-11.0f, 9.0f))    // blob B: excluded
    ).toDF("vec_id", "embedding")
    val hits = Ivf.searchKMeansTrained(d, "vec_id", "embedding",
      queryId = 0L, k = 10, cells = 2, nprobe = 1, iters = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(hits.toSet === Set(2L, 3L)) // own-blob candidates only
    assert(hits.head === 2L) // nearly-parallel vector ranks first
  }
}
