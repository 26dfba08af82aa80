package graft

import org.apache.spark.sql.DataFrame

/** The small graphs the graph-op specs run on. */
trait GraphFixtures extends SparkFixture {

  import spark.implicits._

  def chainTrianglePair: DataFrame = Seq((1L, 2L), (2L, 3L), (3L, 4L),
    (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("a", "b")
  /** two K4 cliques {1..4} and {5..8} joined by the single bridge 4–5 */
  def barbell: DataFrame = {
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    (k4a ++ k4b :+ (4L, 5L)).toDF("id1", "id2")
  }
  /** triangle 1-2-3 with the pendant 3-4: kCore(k = 2) peels 4 in round 1 */
  def trianglePendant: DataFrame =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "t")
  /** buyers 1..4 → suppliers 10..12 */
  def bipartite: DataFrame = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
    (1L, 11L), (2L, 11L), (1L, 12L)).toDF("c", "s")
}
