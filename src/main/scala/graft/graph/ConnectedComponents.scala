package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair graph — the step
  * between near-duplicate PAIR emission (TextDedup / Similarity) and
  * corpus-level decisions: a duplicate CLUSTER id per document lets a
  * curation pipeline keep exactly one member per cluster, size-stratify
  * clusters, or audit what the pairwise threshold actually groups.
  * (The reference pipeline stops at row-level dedup; this is part of
  * the beyond-reference LLM-curation family.)
  *
  * Algorithm (r16 shape): contract-then-solve. Every vertex first
  * takes label(v) = min(v ∪ N(v)) in ONE fused aggregate; the edge set
  * is contracted through those labels into the QUOTIENT graph (edges
  * between distinct label groups only); the quotient's closure is then
  * solved either on the driver (size-gated union-find over a bounded
  * collect) or, above the gate, by distributed alternating
  * large-star/small-star contraction (Kiveris, Lattanzi, Mirrokni,
  * Rastogi, Vassilvitskii, "Connected Components in MapReduce and
  * Beyond", SoCC 2014 — O(log n) rounds at ANY diameter). All paths
  * produce the identical deterministic labeling (component = minimum
  * vertex id), so the output is oracle-checkable: DuckDB replays it as
  * a recursive-CTE label closure over the same pairs.
  *
  * Scale shape (100 TB):
  *   - The symmetric edge set is built in a single pass over the
  *     pair-producing pipeline (explode to both directions — a
  *     self-union would evaluate the upstream LSH cascade per branch),
  *     hash-partitioned by src once and materialized (eager
  *     localCheckpoint) so the round-1 aggregate and the contraction
  *     join reuse the layout.
  *   - Round 1 is ONE aggregate over that frame (the groupBy keys ARE
  *     the vertex set — initial labeling and first propagation fuse
  *     into a single min() pass: bounded buffer, map-side combine,
  *     flat at any degree skew).
  *   - Contraction is one join pass re-keying edges by label; LSH
  *     near-dup graphs are star/clique-dominated, so most components
  *     collapse entirely in round 1 and the quotient carries only the
  *     edges that cross round-1 groups — orders of magnitude fewer
  *     than the pair set.
  *   - The quotient solve: below [[DefaultMaxDriverQuotientRows]]
  *     symmetric rows a driver union-find closes it in one bounded
  *     collect (the KMeans-centroid bounded-driver-state class) and a
  *     broadcast remap joins the closure back. Above the gate — a
  *     quotient that large means the corpus is one giant loosely
  *     chained dup blob — star contraction runs distributed; `maxIters`
  *     bounds its rounds and non-convergence THROWS rather than
  *     returning silently wrong labels (no-silent-caps principle).
  *   - Lineage is truncated with eager localCheckpoints per
  *     materialized stage (sym, labels, quotient, and per star round) —
  *     iterated self-joins would otherwise stack into one unplannable
  *     tree. On a cluster with a checkpoint dir,
  *     `spark.sparkContext.setCheckpointDir` + reliable checkpoints
  *     are the durable variant of the same move.
  */
/** Primitive open-addressed long→long hash map (linear probing,
  * power-of-two capacity, grow at 60% load) — the driver union-find's
  * parent table. Two long arrays instead of boxed HashMap entries:
  * 16 bytes per SLOT, so the worst case at the 2^21-row driver gate
  * (≤ 2^21 entries → 4M slots after growth) is ≤ 64 MB, vs the
  * ~150–200 MB the boxed form measured at the same gate. Key 0 is
  * valid (slot emptiness is tracked by a separate flag for it). */
private[graph] final class LongLongMap(expectedEntries: Int) {
  private var cap = {
    var c = 16
    // size so `expectedEntries` fits under the grow threshold
    while (c * 3L / 5L < expectedEntries && c < (1 << 30)) c <<= 1
    c
  }
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var n = 0

  def size: Int = n

  private def slotOf(k: Long): Int = {
    // 64→32 bit mix (the gmix64 finalizer's tail), then mask
    var h = k
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    var i = (h & mask).toInt
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    i
  }

  def getOrDefault(k: Long, d: Long): Long = {
    val i = slotOf(k)
    if (used(i)) vals(i) else d
  }

  def put(k: Long, v: Long): Unit = {
    val i = slotOf(k)
    if (!used(i)) {
      used(i) = true
      keys(i) = k
      n += 1
      if (n.toLong * 5 > cap.toLong * 3) grow()
    }
    vals(slotOf(k)) = v
  }

  private def grow(): Unit = {
    // the constructor's bound: doubling past 2^30 slots overflows Int
    require(cap < (1 << 30), s"LongLongMap cannot grow past ${1 << 30} slots ($n entries)")
    val ok = keys; val ov = vals; val ou = used; val oc = cap
    cap <<= 1
    mask = cap - 1
    keys = new Array[Long](cap)
    vals = new Array[Long](cap)
    used = new Array[Boolean](cap)
    var i = 0
    while (i < oc) {
      if (ou(i)) {
        val j = slotOf(ok(i))
        used(j) = true; keys(j) = ok(i); vals(j) = ov(i)
      }
      i += 1
    }
  }

  def foreachKey(f: Long => Unit): Unit = {
    var i = 0
    while (i < cap) { if (used(i)) f(keys(i)); i += 1 }
  }
}

object ConnectedComponents {

  /** (id, component) for every vertex that appears in `pairs`;
    * `component` is the minimum vertex id of the connected component.
    * Vertices not present in any pair are absent — left-join and
    * coalesce to the vertex's own id for singleton semantics.
    *
    * Shape (r16): contract-then-solve. The fused round-1 aggregate
    * labels every vertex with min(v ∪ N(v)); the edge set is then
    * CONTRACTED through those labels — (u,v) → (l(u), l(v)), dropping
    * within-group edges — and star contraction runs on the contracted
    * graph only. Pre-r16 this ran up to two more frontier-propagation
    * rounds first and, if still moving, restarted star contraction
    * from the RAW edge set: on the near-dup chain graphs the bench
    * corpus actually produces (td10/td13 escalated at every measured
    * scale factor), that paid 2 frontier passes + checkpoints for
    * nothing and then re-derived round 1 inside the star pass. The
    * contracted form reaches the same fixpoint — label groups are
    * single-component by construction, and the global min vertex g
    * always survives contraction (l(g) = g, and any multi-group
    * component has a group-crossing edge at g's group) — so star
    * labels of the contracted vertices compose with the round-1
    * labels to the identical (min vertex id) output. A clique/star
    * graph (the LSH rep-pair shape) contracts to ZERO edges and exits
    * without any star round — cheaper than the old confirmation
    * propagation round — while a diameter-shaped graph skips straight
    * to the O(log n) algorithm on a pre-shrunk edge set. */
  /** Size gate for solving the CONTRACTED quotient graph on the
    * driver: at or below this many symmetric quotient rows (2× the
    * undirected quotient edge count) the component closure is a
    * driver-side union-find over a bounded collect — the same
    * bounded-driver-state class as the KMeans centroid and topV-vocab
    * collects. Honest worst-case driver state at the gate: the
    * collected rows (2^21 × ~16 B InternalRows ≈ 34 MB, transient) +
    * the primitive [[LongLongMap]] parent table (≤ 2^21 entries →
    * ≤ 64 MB of long arrays) + the remap tuple buffer. Above the
    * gate, the distributed star contraction runs unchanged. The
    * quotient is the graph AFTER round-1 groups collapse, which on
    * near-dup corpora is orders of magnitude smaller than the pair
    * set — but it is data-sized, not parameter-sized, hence the
    * gate. */
  val DefaultMaxDriverQuotientRows: Int = 1 << 21

  def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 20,
      maxDriverQuotientRows: Int = DefaultMaxDriverQuotientRows,
  ): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(maxDriverQuotientRows >= 0,
      s"maxDriverQuotientRows must be >= 0, got $maxDriverQuotientRows")
    val edges = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // Symmetrize in ONE pass over the pair-producing pipeline (an LSH
    // near-dup cascade, typically): each row explodes into both
    // directions. The previous self-union evaluated the cascade once
    // per branch unless exchange reuse happened to fire. Partition by
    // src and materialize: the round-1 aggregate and the contraction
    // join both reuse that layout.
    val sym = edges
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .repartition(col("src"))
      .localCheckpoint(true)
    // Round 1, fused: sym is symmetric, so groupBy(src) keys are
    // exactly the vertex set — initial labeling and first propagation
    // are one shuffle-free aggregate over the pre-partitioned edges.
    val labels = sym
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_nbr"))
      .select(col("id"), least(col("id"), col("_nbr")).as("component"))
      .localCheckpoint(true)
    // Contract through the round-1 labels. sym and labels share the
    // src hash layout, so the first join is exchange-free; the second
    // re-keys by dst once. Self-loops (within-group edges) drop here —
    // a graph whose components all collapsed in round 1 contracts to
    // an EMPTY edge set and starComponents detects that with its
    // zero-edge checksum before any contraction round runs.
    val contracted = sym
      .join(labels.select(col("id").as("src"), col("component").as("_la")), Seq("src"))
      .join(labels.select(col("id").as("dst"), col("component").as("_lb")), Seq("dst"))
      .filter(col("_la") =!= col("_lb"))
      .select(col("_la").as("src"), col("_lb").as("dst"))
      .localCheckpoint(true)
    // One bounded read answers "does the quotient fit the driver":
    // take(bound+1) returning <= bound rows IS the whole quotient.
    val head = contracted.select(col("src"), col("dst"))
      .take(maxDriverQuotientRows + 1)
    val quotientLabels: DataFrame =
      if (head.isEmpty) {
        // every component collapsed in round 1 — labels are final
        return labels
      } else if (head.length <= maxDriverQuotientRows) {
        // Driver union-find over the bounded quotient (min-id roots —
        // union points the larger root at the smaller, so every root
        // is its component's minimum label value, which is the global
        // minimum vertex id as argued above). Broadcast the closure
        // back: one map per quotient vertex, joined below.
        //
        // Parent state is a PRIMITIVE open-addressed long→long map
        // ([[LongLongMap]]), not a boxed java.util.HashMap: at the
        // 2^21-row gate the boxed form held ~150–200 MB of Entry +
        // boxed-Long objects on the driver; the primitive table is two
        // long arrays — ≤ 64 MB at the worst-case 2^21 entries
        // (4M-slot table × 16 B), and sized to the ACTUAL entry count
        // in the common case (the quotient is usually far below the
        // gate). Entries exist only for non-root vertices touched by a
        // union or path compression, ≤ one per quotient row.
        val parent = new LongLongMap(math.min(head.length, 1 << 16))
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x
          while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
          r
        }
        head.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val roots = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
        parent.foreachKey(k => roots += ((k, find(k))))
        val spark = pairs.sparkSession
        broadcast(spark.createDataFrame(roots.toSeq)
          .toDF("component", "_c2"))
      } else {
        System.err.println(
          s"[graft.cc] quotient graph exceeds the $maxDriverQuotientRows-row " +
            "driver gate — star contraction (O(log n) rounds)")
        val (starLabels, starRounds) = starComponents(contracted, maxIters)
        System.err.println(
          s"[graft.cc] star contraction converged in $starRounds rounds")
        starLabels.select(col("id").as("component"), col("component").as("_c2"))
      }
    // Compose: component(v) = quotientComponent(l(v)) when l(v)'s group
    // had a crossing edge, else l(v) itself (single-group component).
    // Only non-root quotient vertices need a remap row, so the
    // broadcast frame stays within the gate bound.
    labels
      .join(quotientLabels, Seq("component"), "left")
      .select(col("id"), coalesce(col("_c2"), col("component")).as("component"))
  }

  /** Alternating large-star/small-star contraction over the edge set
    * (Kiveris et al. 2014) — O(log n) rounds at any diameter. Returns
    * (labels, roundsUsed); ConnectedComponentsSpec pins the round
    * bound on a 1000-vertex path graph.
    *
    * Representation: canonical undirected edges (hi, lo), hi > lo,
    * distinct. Per round:
    *   - large-star: for every directed (u,v) with v > u, emit
    *     (v, m(u)) where m(u) = min(N(u) ∪ {u}) — strictly-larger
    *     neighbors re-attach to the local minimum;
    *   - small-star: on the result, for every center hi with
    *     neighbors lo < hi, emit (lo', m) for lo' ≠ m and (hi, m)
    *     where m = min neighbor — not-larger neighbors re-attach.
    * Each op preserves connectivity; the edge set monotonically
    * contracts toward stars centered at component minima. Convergence
    * is detected by a (count, hash-XOR) checksum going stable — two
    * scalar aggregates per round, no driver-side edge collection —
    * and then CONFIRMED exactly by a left_anti join (equal counts +
    * empty difference ⇒ set equality), so a checksum collision can
    * delay detection by a round but can never accept a non-fixpoint.
    * XOR is order-free and cannot overflow, so the check is
    * ANSI-mode-safe (the previous wrap-around sum was not).
    *
    * Scale shape: every step is groupBy/join on vertex keys —
    * map-side-combinable aggregates and hash joins, no windows, no
    * driver loops proportional to diameter. Per-round volume is the
    * current edge set, which only shrinks; lineage is truncated per
    * round with an eager localCheckpoint, exactly like the
    * propagation path. */
  private[graph] def starComponents(
      sym: DataFrame,
      maxIters: Int,
  ): (DataFrame, Int) = {
    var c = sym.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct()
      .localCheckpoint(true)
    // (edge count, XOR of per-edge 64-bit hashes): a cheap per-round
    // fingerprint — equality is NECESSARY for a fixpoint but confirmed
    // exactly below before the loop exits. XOR (vs sum) is exact under
    // ANSI mode too: it cannot overflow. The frame is distinct(), so
    // XOR's duplicate-cancellation property is irrelevant here.
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var prev = checksum(c)
    var rounds = 0
    var done = prev._1 == 0L // edgeless input: nothing to contract
    while (!done && rounds < maxIters) {
      val s = c.select(col("hi").as("src"), col("lo").as("dst"))
        .unionByName(c.select(col("lo").as("src"), col("hi").as("dst")))
      val m = s.groupBy("src").agg(least(col("src"), min(col("dst"))).as("m"))
      // large-star; output is canonical by construction (dst > src ≥ m)
      val ls = s.filter(col("dst") > col("src"))
        .join(m, Seq("src"))
        .select(col("dst").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // small-star on the canonical frame: every lo-neighbor of hi
      // (and hi itself) re-attaches to the minimum neighbor
      val m2 = ls.groupBy("hi").agg(min(col("lo")).as("m"))
      val ss = ls.join(m2, Seq("hi"))
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(m2.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(true)
      rounds += 1
      val cur = checksum(ss)
      // Exact confirmation on checksum match: counts are equal (part of
      // cur == prev), so an empty c∖ss difference ⇒ the sets are equal.
      // Runs once at convergence (collisions aside), on two checkpointed
      // star-forest-sized frames — a collision can only force one extra
      // round, never a wrong early exit.
      done = cur == prev &&
        c.join(ss, Seq("hi", "lo"), "left_anti").isEmpty
      prev = cur
      c = ss
    }
    if (!done)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters star-contraction " +
          "rounds — alternation converges in O(log n) rounds, so this graph is " +
          "far larger than the bound anticipates; raise maxIters")
    // At fixpoint c is a disjoint star forest (child hi → center lo =
    // component min). Recover singletons (self-pair-only vertices lose
    // their edges to the self-loop filter) from the full vertex set.
    val verts = sym.select(col("src").as("id")).distinct()
    val labels = verts
      .join(c.select(col("hi").as("id"), col("lo").as("_comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("_comp"), col("id")).as("component"))
    (labels, rounds)
  }
}
