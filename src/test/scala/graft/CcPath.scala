package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.llm.Components

/** The two connected-components paths the suites hold to one ground
  * truth: the public entry, which takes the one-task union-find path on
  * every graph the tests build (integral ids, far below the edge bound),
  * and the label-propagation loop that larger or non-integral edge sets
  * take. */
sealed abstract class CcPath(val name: String) {
  def withRounds(edges: DataFrame, maxIter: Int = 40,
                 reliableCheckpoint: Option[String] = None): (DataFrame, Int)
  def components(edges: DataFrame, maxIter: Int = 40): DataFrame =
    withRounds(edges, maxIter)._1
  /** The dup-cluster table over `id_a`/`id_b` pairs. */
  def dupClusters(pairs: DataFrame): DataFrame
  override def toString: String = name
}

object CcPath {
  object Public extends CcPath("public") {
    def withRounds(edges: DataFrame, maxIter: Int,
                   reliableCheckpoint: Option[String]): (DataFrame, Int) =
      Components.connectedComponentsWithRounds(edges, maxIter, reliableCheckpoint)
    def dupClusters(pairs: DataFrame): DataFrame = Components.dupClusters(pairs)
  }

  object Loop extends CcPath("loop") {
    def withRounds(edges: DataFrame, maxIter: Int,
                   reliableCheckpoint: Option[String]): (DataFrame, Int) =
      Components.labelPropagation(edges, maxIter, reliableCheckpoint)
    def dupClusters(pairs: DataFrame): DataFrame =
      Components.clusterTable(
        components(pairs.select(col("id_a").as("a"), col("id_b").as("b"))))
  }

  val both: Seq[CcPath] = Seq(Public, Loop)
}
