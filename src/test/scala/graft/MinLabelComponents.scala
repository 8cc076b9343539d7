package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup CLUSTERING by iterative min-label propagation — the
  * reference labeling that [[graft.ext.Dedup.dupComponentsStar]] is
  * cross-checked against. Labels every document with the minimum
  * doc_id reachable from it over the pair graph.
  *
  * Algorithm: each round every node takes min(own label, neighbors'
  * labels); converges in O(component diameter) rounds, and near-dup
  * clusters are shallow (a dup cluster's diameter is small by
  * construction — everything is similar to the seed). Each round is one
  * join + one map-side-combinable min aggregate; `localCheckpoint`
  * truncates the lineage so the plan doesn't deepen per round. The
  * convergence probe is an `observe` metric ON the label-update job
  * itself (changed-label count folded into the checkpoint action —
  * per-round driver state is a single long, and there is no second
  * join+isEmpty job per round). For adversarial long-chain graphs
  * min-label propagation needs O(component diameter) rounds; star
  * contraction converges in O(log n) rounds with the IDENTICAL
  * labeling, which is why the engine uses it.
  *
  * Returns (doc_id, component) for every doc that appears in ≥ 1
  * pair; singleton documents are their own implicit component. */
object MinLabelComponents {
  def apply(pairs: DataFrame): DataFrame = {
    // undirected edges, both directions, so one join sees all neighbors
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var converged = false
    while (!converged) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("dst"), col("component")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("component")).as("nc"))
      // old and new labels meet in this projection anyway (the least()),
      // so the changed count rides the eager-checkpoint action for free
      val obs = org.apache.spark.sql.Observation()
      val next = labels.withColumnRenamed("component", "old")
        .join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nc"), col("old"))).as("component"))
        .observe(obs, sum(when(col("component") =!= col("old"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("id"), col("component"))
        .localCheckpoint(true)
      converged = Option(obs.get("changed")).forall(_.asInstanceOf[Long] == 0L)
      labels = next
    }
    labels.select(col("id").as("doc_id"), col("component"))
  }
}
