package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-duplicate pair graph — the step that
  * turns pairwise dedup output (q34/q35/q43 shapes) into *clusters*, so a
  * pipeline can keep one canonical document per duplicate group instead of
  * reasoning about overlapping pairs (a ~ b, b ~ c ⇒ drop two of {a,b,c},
  * which pair-at-a-time filtering gets wrong).
  *
  * Algorithm: distributed min-label propagation with pointer jumping.
  * Every node starts labeled with its own id; each round
  *   (1) relaxes along edges  — label(v) := min(label(v), label(u)) for
  *       each neighbor u, computed as one join + min-aggregate, and
  *   (2) pointer-jumps        — label(v) := label(label(v)), which doubles
  *       the distance a minimum travels per round.
  * The combination converges in O(log diameter) rounds (the classic
  * MapReduce connected-components recipe — cf. Rastogi et al., "Finding
  * Connected Components in Map-Reduce in Logarithmic Rounds", ICDE 2013 —
  * of which large-star/small-star is the edge-rewriting variant).
  * Convergence is detected by a monotone label-sum invariant: labels only
  * ever decrease, so the sum is strictly decreasing until fixpoint, and a
  * relax step that left the sum unchanged proves the labeling is final
  * (a relax-stable labeling is constant per component, and label values
  * are always ids of nodes inside the component, so the constant is the
  * component minimum) — the loop exits without paying a last jump.
  *
  * Scale posture, per round:
  *  - the symmetric edge set is cached hash-partitioned by the join key,
  *    so the relax join re-reads it WITHOUT re-exchanging O(E) rows every
  *    round (the label side arrives aligned too — its checkpointed RDD
  *    carries hash(id) partitioning), leaving only the ~O(V)
  *    map-side-combined aggregate exchange;
  *  - each step becomes a LAZY localCheckpoint (its logical plan is a
  *    leaf, so iterative plans stay constant-size instead of doubling
  *    per round) that is materialized BY its convergence checksum — one
  *    job per step, and the pointer-jump self-join then reads the
  *    checkpointed relax result twice instead of computing the
  *    aggregation subtree twice (the naive self-join doubles the
  *    per-round edge work, since its two sides need different exchanges
  *    and nothing is reused);
  *  - no driver-side graph state — the driver loop holds only the
  *    per-round checksum; retired label RDDs are released by the context
  *    cleaner as the loop drops its references.
  * Duplicate-cluster graphs have tiny diameters in practice (near-dup
  * similarity is near-transitive), so the loop typically runs 1–3 rounds.
  */
object Cluster {

  /** Per-node component labels for every node appearing in `edges`:
    * (id BIGINT, comp BIGINT) where comp = min node id reachable. Nodes not
    * present in any edge are absent (callers left-join and coalesce to the
    * node's own id — a singleton is its own component).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 50): DataFrame = {
    // symmetric, loop-free edge set (undirected graph as two directed rows),
    // partitioned by the probe endpoint so every round's relax join reads it
    // exchange-free from cache
    val sym = edges.select(col(srcCol).cast(LongType).as("a"), col(dstCol).cast(LongType).as("b"))
    // no distinct(): min-relax is idempotent to duplicate edges, so a
    // dedup pass would buy nothing but one more O(E) exchange — duplicate
    // neighbors collapse in the map-side combine of every relax aggregate
    val und = sym.union(sym.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .repartition(col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // monotone convergence metric: labels only decrease, so the label sum
    // strictly decreases on any change (decimal: no overflow at any node
    // count). Aggregating over the freshly-declared lazy checkpoint is ALSO
    // the action that materializes it — one job per step.
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast(DecimalType(38, 0)))).head().getDecimal(0)

    // seed labels with one aggregation: label(v) = min(v, min neighbor) —
    // equivalent to (distinct nodes + one relax round) in a single shuffle
    var lbl = und.groupBy(col("a").as("id"))
      .agg(min(col("b")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("comp"))
      .localCheckpoint(eager = false)
    var prev = checksum(lbl)
    var it = 0
    var converged = prev == null // empty graph: nothing to do
    while (!converged) {
      it += 1
      if (it > maxIters) throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIters rounds")
      // (1) relax along edges: each node takes the min of its own and its
      // neighbors' labels (join keyed on the cached edge partitioning, so
      // the edge side never re-exchanges; the min-aggregate gets map-side
      // combine — hot nodes reduce before the shuffle)
      val prop = und.join(lbl.select(col("id").as("a"), col("comp")), Seq("a"))
        .select(col("b").as("id"), col("comp"))
      val relaxed = prop.union(lbl).groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(eager = false)
      val ckRelax = checksum(relaxed)
      if (ckRelax.compareTo(prev) == 0) {
        // relax-stable ⇒ labels are final; the pending jump would be a no-op
        // (relaxed ≡ lbl here — return lbl, drop relaxed's blocks)
        Blocks.release(relaxed)
        converged = true
      } else {
        // (2) pointer jump: follow the label one more hop (labels are node
        // ids, so they key back into the same — checkpointed — frame)
        val parents = relaxed.select(col("id").as("pid"), col("comp").as("pcomp"))
        val jumped = relaxed.join(parents, col("comp") === col("pid"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"))
          .localCheckpoint(eager = false)
        prev = checksum(jumped)
        // jumped is materialized (by its checksum): the previous round's
        // labels and this round's relax leaf are now dead — drop their
        // blocks eagerly. Each round's relax/jump is a localCheckpoint whose
        // blocks otherwise live until the driver GC notices the dropped
        // reference (ContextCleaner) — on a long chain (161 rounds at the
        // measured 1e6-node worst case) or across bench reps that lag lets
        // dead label/edge blocks pile up in the block manager and evict
        // live ones
        Blocks.release(lbl, jumped)
        Blocks.release(relaxed, jumped)
        lbl = jumped
      }
    }
    und.unpersist()
    // the returned leaf is already materialized (by its checksum) and
    // carries hash(id) partitioning — a downstream join on the id needs no
    // exchange on this side, and under AQE a small cluster map still
    // converts to a runtime broadcast
    lbl
  }
}
