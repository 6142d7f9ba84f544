package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Partitioning-preserving checkpoint.
  *
  * `Dataset.localCheckpoint`/`checkpoint` truncate lineage but record
  * `UnknownPartitioning` on the resulting `LogicalRDD` under AQE (the
  * adaptive plan's partitioning is not final when the wrapper reads it),
  * so an iterative loop that re-keys its state frame each round — the
  * connected-components labels — still pays a full exchange on every
  * downstream co-keyed join. This bridge replicates the body of
  * `Dataset.checkpoint` (same row copy, same lazy RDD-level checkpoint)
  * but declares the hash partitioning the CALLER just established, so
  * next round's joins on those keys plan zero exchanges.
  *
  * Contract: `df`'s rows MUST actually be placed by
  * `HashPartitioning(keyCols)` over exactly the RDD's partition count —
  * i.e. the plan ends in `repartition(n, keyCols…)` (REPARTITION_BY_NUM,
  * which AQE cannot coalesce). Declaring a partitioning the rows do not
  * have silently mis-joins; this is why the helper takes the columns
  * explicitly instead of guessing from the plan.
  *
  * Statistics are deliberately NOT carried over: the loop WANTS its
  * co-partitioned zero-exchange sort-merge joins, not a broadcast that
  * would re-collect the state frame to the driver every round.
  */
object CheckpointBridge {
  def checkpointKeyed(df: DataFrame, keyCols: Seq[String],
                      reliable: Boolean): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    // same as Dataset.checkpoint: copy (unsafe rows are reused per
    // iterator; the checkpoint stores them), then mark lazily — the
    // first action over the frame materializes every partition
    val internalRdd = ds.queryExecution.toRdd.map(_.copy())
    if (reliable) internalRdd.checkpoint() else internalRdd.localCheckpoint()
    // fresh expression ids (what LogicalRDD.newInstance does) so the new
    // frame self-joins cleanly against plans sharing the old lineage
    val newOutput = ds.queryExecution.analyzed.output.map(_.newInstance())
    val resolver = session.sessionState.analyzer.resolver
    val keyAttrs = keyCols.map { c =>
      newOutput.find(a => resolver(a.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"checkpointKeyed: no output column '$c' in " +
            newOutput.map(_.name).mkString("[", ",", "]")))
    }
    val part = HashPartitioning(keyAttrs, internalRdd.getNumPartitions)
    Dataset.ofRows(session,
      LogicalRDD(newOutput, internalRdd, part, Nil, isStreaming = false,
        None)(session, None, None))
  }
}
