package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline. The only one a
  * training-data pipeline genuinely needs is connected components:
  * near-dup similarity is not transitive, so verified pairs must
  * collapse into components before a keep-one policy can act (else
  * chains A~B~C yield two contradictory keep-one decisions).
  */
object GraphOps {

  /** Rounds taken by the most recent [[connectedComponents]] call —
    * diagnostic only (specs assert the O(log n) bound; the rehearsal
    * script records it alongside wall time). Not part of the API. */
  @volatile private[graft] var lastRounds: Int = 0

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014 — public algorithm).
    *
    * Input: an edge list with two long columns `src`, `dst` (undirected
    * semantics; direction, duplicates, and self-loops are normalized
    * internally). Output: one row per distinct endpoint — (`id`, `lab`)
    * where `lab` is the minimum node id of the component. Exact and
    * deterministic, so a DuckDB recursive-CTE closure can oracle it
    * (dedup_clusters).
    *
    * Why stars and not min-label propagation (the round-3 shape): label
    * propagation's per-round message volume on a hot component is
    * O(degree of the hub) EVERY round until the whole component has
    * converged, and the shortcut relation grows by O(nodes) per round.
    * The star operations instead REPLACE the edge relation each round
    * and provably never grow it: each round emits at most one edge per
    * input edge (large-star) / per input edge + node (small-star), and
    * duplicates collapse under `distinct`, so hot components shrink the
    * relation geometrically instead of re-broadcasting it. Convergence
    * is O(log^2 n) rounds worst-case, O(log n) observed.
    *
    * Per-round shape: two groupBy-mins + two co-keyed joins over the
    * current edge relation — all map-side combinable, all on the same
    * (long, long) pairs. Convergence decision stays EXACT — a
    * set-difference (`next EXCEPT cur` empty AND sizes match) — but
    * the exact check is GATED behind a cheap fingerprint
    * (count, Σ decimal(xxhash64(u,v))) computed by the same scalar job
    * that materializes the round (round-8 restatement): a fingerprint
    * that differs from the previous round's proves the relation
    * changed (equal sets ⟹ equal fingerprint, deterministically), so
    * exceptAll runs only on a fingerprint match — in practice exactly
    * once, at the true fixpoint. A spurious fingerprint collision
    * (changed set, same sum — possible in principle) merely runs one
    * exceptAll that says "not converged"; it can never stop a round
    * early, so the label-sum-aliasing hazard the earlier shape
    * documented does not apply to the gate. Decimal(38,0) sums keep
    * the Σhash exact and ANSI-overflow-free to ~10¹⁸ edges.
    *
    * Every round localCheckpoints LAZILY and the fingerprint action
    * doubles as the checkpoint's final-stage materialization — the
    * eager checkpoint's dedicated count pass is gone from every round
    * (under AQE the round's exchange stages still materialize inside
    * the checkpoint call; the fusion removes the extra sequential
    * scans, each of which pays full scheduling latency on a contended
    * host). Both star ops
    * reference the edge relation twice (the group-min side and the
    * emit side), so an uncut lineage DOUBLES per round — exponential
    * logical-plan growth that OOMs plan stringification long before
    * any data is at risk; the inputs a round reads are always the
    * PREVIOUS round's already-materialized blocks.
    * The previous round's checkpoint blocks are unpersisted EXPLICITLY
    * once the next round is materialized (localCheckpointed RDDs are
    * not in the CacheManager, so without this, block cleanup would wait
    * on driver GC + ContextCleaner — O(edges) blocks per round can
    * accumulate during long runs). Every 8th round the checkpoint is
    * consumed through a stats-reset view ([[statsReset]]) so plan
    * STATISTICS can't compound without bound either — with inherited
    * stats an open-ended fixpoint squares sizeInBytes per round until
    * BigInt stats arithmetic, not data, is the bottleneck. On a real
    * cluster the same loop uses reliable checkpoint() to DFS every few
    * rounds (the GraphFrames/GraphX iteration contract).
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val canonical = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // ck is the checkpointed handle (owns the blocks, freed per round);
    // cur is its periodically stats-reset view (see statsReset: without
    // it an open-ended fixpoint's plan statistics square every round)
    // (count, Σ decimal-hash) change-gate — the one scalar job per
    // round, doubling as the lazy checkpoint's materialization
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).first()
      (r.getLong(0), r.getDecimal(1))
    }
    var ck = canonical.localCheckpoint(false)
    var cur: DataFrame = ck
    var (curSize, curHash) = fingerprint(ck)
    var rounds = 0
    var converged = curSize == 0L
    while (!converged) {
      val nextCk = ccRound(cur).localCheckpoint(false)
      val next = statsResetEvery(rounds, nextCk)
      val (nextSize, nextHash) = fingerprint(nextCk)
      // exceptAll (the exact decider) runs ONLY on a fingerprint match —
      // in practice once, at the true fixpoint; a differing fingerprint
      // already proves the relation changed
      val unchanged = nextSize == curSize && nextHash.compareTo(curHash) == 0 &&
        next.exceptAll(cur).isEmpty
      freeCheckpoint(ck)
      ck = nextCk
      cur = next
      curSize = nextSize
      curHash = nextHash
      rounds += 1
      converged = unchanged
    }
    lastRounds = rounds
    // At the fixpoint the relation is a star forest rooted at each
    // component's minimum: every edge is (root, member).
    // roots needs no pre-distinct: the union's final distinct collapses
    // the duplicate (root, root) rows — one exchange instead of two.
    val leaves = cur.select(col("v").as("id"), col("u").as("lab"))
    val roots = cur.select(col("u").as("id"), col("u").as("lab"))
    leaves.unionByName(roots).distinct()
  }

  /** One large-star + small-star contraction round over a canonical
    * (u < v, distinct) edge relation — extracted from the loop so its
    * plan shape is lockable by test BEFORE the localCheckpoint cuts it
    * out of the inspectable lineage (Round8PlanSpec holds it to
    * exactly three Aggregates: the two star group-mins and the final
    * set-restoring distinct; a re-added intermediate dedup would be a
    * fourth). */
  private[graft] def ccRound(cur: DataFrame): DataFrame = {
    // Large-star: every node u connects its strictly-larger neighbors
    // to min(N(u) ∪ {u}). Work from both edge directions so each
    // node's full neighborhood is in one group.
    val dirs = cur.unionByName(
      cur.select(col("v").as("u"), col("u").as("v")))
    val largeMin = dirs.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // m <= u < v, so (m, v) is already canonical and never a self-loop.
    // NO intermediate distinct (round 8, −1 exchange/round): small-star's
    // min-aggregation ignores duplicate rows and the round's FINAL
    // distinct restores the set, so the result is identical; the
    // duplicate multiset stays bounded (each `dirs` row emits ≤ 1 row
    // here, so |afterLarge| ≤ 2·|cur| rows into the next two keyed ops —
    // the star contraction's no-growth guarantee is about the SET, which
    // the end-of-round distinct still enforces before the checkpoint).
    val afterLarge = dirs.join(largeMin, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
    // Small-star: every node v connects its smaller-or-equal
    // neighborhood N<=(v) ∪ {v} to its minimum. In canonical form the
    // smaller neighbors of v are exactly the u's of edges (u, v).
    val smallMin = afterLarge.groupBy("v").agg(min(col("u")).as("m"))
    val attachSelf = smallMin.select(col("m").as("u"), col("v"))
    val attachPeers = afterLarge.join(smallMin, "v")
      .filter(col("u") =!= col("m"))
      .select(col("m").as("u"), col("u").as("v"))
    attachSelf.unionByName(attachPeers).distinct()
  }

  /** Fixed-iteration PageRank in e6-scaled integer arithmetic.
    *
    * Input: a symmetric distinct edge list (`src`, `dst`, long). Every
    * node starts at rank 1.0 (1,000,000 in e6 units); one iteration is
    * r'(v) = 0.15 + 0.85 · Σ_{u→v} r(u)/deg(u), computed as
    * `150000 + (85 · Σ (r div deg)) div 100` — ALL integer, so the
    * result is bitwise identical across engines, partitionings, and
    * aggregation orders (a float PageRank could not be driver-oracled
    * by hash). Each `div` floors; the systematic mass loss is < deg
    * ulps per node per round — irrelevant for ranking, essential for
    * determinism. On a symmetric graph every node has an in-edge, so
    * no dangling-mass term is needed.
    *
    * Scale: one co-keyed join + one groupBy-sum per iteration, the
    * canonical Pregel round as relational algebra. The caller fixes
    * the iteration count (the qid unrolls the SAME three rounds in its
    * DuckDB oracle); an open-ended convergence loop would add the
    * localCheckpoint regimen of [[connectedComponents]]. Σ(85·r) stays
    * far under Long range until ~10¹¹ nodes; a decimal widening is the
    * escape hatch beyond. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    // Share-first restatement (r10): the old form persisted
    // edges ⋈ deg — a full extra pass over the big relation to BUILD
    // the join, a 4-column cache, and a per-row `rank div deg`
    // evaluated once per EDGE per round. But the contribution
    // rank(src)/deg(src) depends on src alone, so it is computed on
    // the NODE-sized relation first (share = ranks ⋈ deg, both
    // |nodes| rows — broadcast-sized at any graph scale where ranks
    // fit the driver loop at all) and the per-round big-side work is
    // ONE join of the cached edge relation against that tiny share —
    // bit-identical integer arithmetic (`div` per src, summed per
    // dst), one fewer full edge pass, half the cache width, and
    // |nodes| divisions per round instead of |edges|. Measured (r10
    // docs/TODO_r10.md §2, fresh JVM incl. the co-purchase build, sf0.1 2.4M
    // directed edges): per-iteration stage CPU 14–18 → 7–11 s; probe
    // task_cpu 115–147 → ~110 s, where the residual is the family's
    // shared co-purchase build (~37 s) plus this loop's own edge
    // cache build, both one-time.
    //
    // The edge cache persists HASH-PARTITIONED on src (the r10 layout,
    // kept in r13): the cached partitioning satisfies the per-round
    // join's distribution requirement, so the edge bytes cross the
    // wire ONCE at cache build and never again — and with the share
    // side SHUFFLE_HASH-hinted (below) they are never SORTED either.
    // A window-based single-pass degree (count over partitionBy(src))
    // was tried and REJECTED by measurement: WindowExec's
    // per-partition sort over the full edge relation (76 s at the 20×
    // rehearsal point vs 33 s for this form) costs far more than the
    // duplicate hash-aggregate build it avoids.
    // Deliberately DESERIALIZED (unlike the round-6 SER policy for
    // build-once-read-once family caches): every iteration re-scans
    // this relation, and a SER cache re-deserializes 48M edge rows per
    // round — measured 88.7 s vs ~22 s at the 20× rehearsal point.
    // Read-many caches keep row format; build-once caches go SER.
    // Both caches freed by the caller's clearCache or executor
    // eviction, same contract as the other iterative loops' inputs.
    val e = edges.repartition(col("src")).persist()
    // deg is re-read every round (the share join) — persisting the
    // |nodes|-sized aggregate keeps each round from re-scanning the
    // full edge cache to recompute it
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    var ranks = deg.select(col("src").as("node"),
      lit(1000000L).as("rank_e6"))
    // Join-strategy note (r13, supersedes the r10 "AQE's pick is left
    // alone" A/B): the r10 A/B compared totals on a weather-dominated
    // host and read "within noise"; the r13 plan-metric dump shows
    // what the totals hid — AQE planned e ⋈ share as a SortMergeJoin,
    // fully sorting the 2.39M-row edge cache EVERY round (the share
    // side's estimate derives from the edge-sized relation, so the
    // static planner never saw it as small, and the cached edge side
    // has no query-stage boundary for AQE to replan around; the cached
    // src-partitioning removed the exchange but an SMJ still SORTS).
    // The fix is the explicit SHUFFLE_HASH hint on the node-sized
    // share: the edge side reuses the cached partitioning (no
    // exchange, no sort — ShuffledHashJoin builds a hash table from
    // the share partition instead), so a round's only wide ops are
    // two node-sized exchanges (ranks into the share join, partials
    // out of the dst groupBy). An earlier r13 draft used
    // broadcast(share) — same sort-kill, and ~0.4 s / ~16 CPU-s
    // cheaper at sf0.1 on local[32] (one shared broadcast table vs 32
    // per-partition builds) — but the share is |nodes|-proportional,
    // so the broadcast GROWS with the corpus (BroadcastAudit flagged
    // it 10.0x at the rehearsal point) while the hinted shuffle build
    // is per-partition and scale-invariant. Sum order is irrelevant to
    // the integer aggregation, so results are bit-identical either way.
    // The share build (deg ⋈ ranks) gets the SAME hint (r14, VERDICT
    // r13 ask #3): statically it planned as a SortMergeJoin and only
    // AQE's runtime broadcast conversion saved it at fixture scale
    // (executed-plan metrics, commit c2bc6c4: BroadcastHashJoin, 20k
    // rows/round) — a threshold-dependent rescue that disappears exactly when it
    // matters, since BOTH sides are |nodes|-proportional (the same
    // growth class BroadcastAudit flagged on the share broadcast).
    // SHUFFLE_HASH on ranks pins the threshold-independent shape:
    // deg keeps its persisted hash(src) layout, ranks arrives
    // hash(node)-partitioned from the previous round's groupBy, the
    // build is per-partition and scale-invariant, nothing is sorted.
    // Integer arithmetic → bit-identical results.
    for (_ <- 1 to iters) {
      val share = deg.join(ranks.hint("SHUFFLE_HASH"), col("src") === col("node"))
        .selectExpr("src AS s_src", "rank_e6 div deg AS contrib")
      ranks = e.join(share.hint("SHUFFLE_HASH"), col("src") === col("s_src"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inb"))
        .selectExpr("dst AS node", "150000L + (85L * inb) div 100L AS rank_e6")
    }
    ranks
  }

  /** Depth-to-root for every node of a rooted forest, by pointer
    * doubling with distance accumulation — the engine's answer to the
    * recursive CTE Spark lacks (org charts, BOM explosions, category
    * trees). Input: (node, parent) with roots encoded as parent ==
    * node. State (node, anc, d) starts at the parent pointer and each
    * round substitutes the ancestor's own state: anc jumps 2^k hops by
    * round k, so a depth-10⁶ chain needs 20 rounds, not 10⁶ — the
    * O(log d) bound that makes hierarchy flattening feasible at
    * 100 TB (each round is one self-join co-keyed on the ancestor).
    * Root rows are their own fixpoint (anc = self, d = 0), so settled
    * rows pass through unchanged. Same localCheckpoint + explicit
    * freeCheckpoint regimen as [[connectedComponents]].
    *
    * Fused probe (the round-8 restatement): the round's checkpoint is
    * LAZY and the convergence probe is a scalar `agg(count, sum(d))`
    * over it, so the probe action doubles as the checkpoint's
    * final-stage materialization — the eager checkpoint's dedicated
    * count pass and the separate anti-join-vs-roots probe job (plus
    * its broadcast build) are gone from every round. (Under AQE the
    * round's exchange stages still materialize inside the checkpoint
    * call itself; what the fusion removes is the two extra sequential
    * scans per round, each of which pays full scheduling latency on a
    * contended host.) Convergence by exactness of the
    * (count, Σd) pair across rounds: d is monotone non-decreasing per
    * surviving row and strictly increases for any row whose anc is
    * not yet a root (a non-root ancestor's own d ≥ 1 — d starts at 1
    * off-root and never shrinks), so a stationary pair ⟺ no row
    * moved ⟺ every anc is a root. Σd of ≤ n terms each ≤ n stays
    * ≤ n² — no Long wrap until n ≈ 3·10⁹ nodes, far above any single
    * table's key space here; the count guards the row-drop edge (a
    * dangling parent removes rows, which could otherwise offset a
    * gain). Detection costs one confirming no-op round vs the
    * anti-join probe (stationarity is observed one round after the
    * fact) — one extra cheap job against ~2× fewer jobs per round.
    *
    * PRECONDITION: every parent value must exist as a node (a closed
    * forest). Both violation modes fail LOUDLY: a parent CYCLE gains d
    * every round, so Σd never goes stationary and the loop hits its
    * derived cap (the convergence require); a DANGLING parent orphans
    * its subtree — the hop join finds no ancestor row and the rows
    * DRAIN, after which (count, Σd) goes stationary at a SMALLER
    * count, caught by the final-vs-initial row-count require (the
    * probe already tracks the count, so the check costs no extra
    * job).
    *
    * The cap is DERIVED, not a magic constant: a forest on n nodes has
    * depth ≤ n, and doubling settles any depth ≤ 2^k in k rounds, so
    * ⌈log₂ n⌉ + 1 confirming round + 2 slack provably suffice —
    * failing to settle within the cap IS a precondition violation. The cap must also stay small
    * for a second reason: each round's self-join SQUARES the
    * checkpoint-inherited sizeInBytes statistic (join size estimate =
    * left × right, and LogicalRDD carries the checkpointed plan's
    * stats), so an unbounded spin makes Catalyst's BigInt stats
    * arithmetic itself the hang — at a fixed 40-round cap the
    * estimator was multiplying gigabit-sized integers on a cyclic
    * input before any guard could fire (found by the round-5 cycle
    * test). The n count() is the same driver scalar the iterative
    * trainers use for loop control. */
  def rootedDepth(parents: DataFrame): DataFrame = {
    // (count, Σd) of a state relation — the one scalar job per round;
    // running it over a LAZY checkpoint materializes the blocks as a
    // side effect, so probe and checkpoint share a single job
    def probe(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("d")), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    var ck = parents.select(col("node"), col("parent").as("anc"),
        when(col("parent") === col("node"), lit(0L)).otherwise(lit(1L)).as("d"))
      .localCheckpoint(false)
    var cur: DataFrame = ck
    var (n0, prevSum) = probe(ck)
    val nInit = n0
    val n = math.max(1L, n0)
    val maxRounds = // ceil(log2(n)) + 3, floor 4 (+1: stationarity of
      // (count, Σd) is observed one confirming round after the fixpoint)
      math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) + 3)
    var rounds = 0
    var done = n0 == 0L
    while (!done && rounds < maxRounds) {
      val hop = cur.select(col("node").as("j_node"), col("anc").as("j_anc"),
        col("d").as("j_d"))
      val nextCk = cur.join(hop, col("anc") === col("j_node"))
        .select(col("node"), col("j_anc").as("anc"),
          (col("d") + col("j_d")).as("d"))
        .localCheckpoint(false)
      val next = statsResetEvery(rounds, nextCk)
      val (nextN, nextSum) = probe(nextCk)
      freeCheckpoint(ck)
      ck = nextCk
      cur = next
      rounds += 1
      done = nextN == n0 && nextSum == prevSum
      n0 = nextN
      prevSum = nextSum
    }
    lastRounds = rounds
    // ⌈log₂ n⌉ doubling rounds settle any depth a forest on n nodes can
    // have, +1 to observe stationarity, +2 slack; not settling means a
    // parent CYCLE (its rows gain d every round, so Σd never goes
    // stationary). Fail loudly — wrong depths that LOOK right are the
    // worst possible output.
    require(done, s"rootedDepth did not converge in $rounds rounds " +
      s"(n=$n): input has a parent cycle, or is otherwise malformed " +
      "(e.g. duplicated node rows make the hop self-join multiply " +
      "the state each round)")
    // the OTHER precondition violation converges: a dangling parent's
    // orphan subtree drains through the inner hop join, then
    // (count, Σd) goes stationary at a smaller count — which would
    // silently return depths missing those nodes. The probe already
    // carries the count, so the row-conservation check is free.
    require(n0 == nInit, s"rootedDepth row count changed $nInit -> $n0: " +
      "a dangling parent orphaned a subtree (input is not a closed " +
      "forest) — validate parents against nodes upstream")
    cur.select(col("node"), col("anc").as("root"), col("d").as("depth"))
  }

  /** Bounded-hop BFS frontier relaxation from `srcDf` (a 1-row (node)
    * relation) over undirected edges `und` (u, v; the caller persists
    * it — all `hops` rounds read it): each round is one co-keyed join
    * + one min-groupBy (the Bellman-Ford round as relational algebra).
    * Returns (node, dist) for every node reached within `hops`.
    *
    * localCheckpoint every SECOND round: without any cut the rounds
    * nest into a ~40-operator plan that Catalyst re-optimizes
    * wholesale (measured 15.7 s -> ~4 s at sf0.1 when per-round
    * checkpoints were introduced), because each round references the
    * previous frontier TWICE (join side + union side) — plan size
    * doubles per uncut round. But a per-ROUND eager checkpoint buys
    * that cut with one sequential Spark action per round, and two
    * nested rounds are only ~4x one round's operators — well inside
    * Catalyst's budget. Checkpointing on even rounds keeps the
    * doubling bounded at one level while halving the loop's action
    * count (8 -> 5 job-bearing actions for graph_shortest_path,
    * measured in the r9 action census, docs/TODO_r9.md §8 — the
    * contended-driver axis, same motivation as the r8 fused probes). Blocks of the previous
    * checkpoint are freed only after the next eager checkpoint has
    * materialized (the lazy in-between round still reads them until
    * then). Split out of graph_shortest_path (r9) so the bench
    * prelude can warm the round shape on a toy graph. */
  private[graft] def boundedBfs(und: DataFrame, srcDf: DataFrame,
      hops: Int): DataFrame = {
    var ck = srcDf.select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var dist = ck
    for (r <- 1 to hops) {
      val nxt = dist.join(und, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      val stepped = dist.unionByName(nxt)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (r % 2 == 0) {
        val next = stepped.localCheckpoint()
        freeCheckpoint(ck)
        ck = next
        dist = next
      } else dist = stepped
    }
    dist
  }

  /** Rebuild a checkpointed DataFrame from its RDD, RESETTING inherited
    * statistics. LogicalRDD carries the checkpointed plan's stats, and
    * an iterative loop whose round plan self-joins the previous round
    * SQUARES sizeInBytes every round — past ~25 rounds Catalyst's
    * BigInt stats arithmetic dominates wall time outright (found as a
    * hang in SizeInBytesOnlyStatsPlanVisitor on a cyclic rootedDepth
    * input, round 5). The rebuilt Dataset's stats fall back to the
    * session default CONSTANT. Cost: one row-encoder pass over the
    * relation at next materialization — measured +20–50% per ROUND on
    * the converging fixpoints (dedup_clusters 10.5 → 12.6 s at sf0.1
    * when applied every round), which is why callers apply it
    * PERIODICALLY ([[statsResetPeriod]]): rounds between resets
    * compound the ~60-bit base by at most 2^8 — a ≤ 15 Kbit integer,
    * microseconds of BigInt math — so converging loops (≤ 7 rounds)
    * pay nothing and open-ended 100 TB fixpoints still get flat
    * planning cost. The returned plan still reads the checkpoint
    * blocks; free them via [[freeCheckpoint]] on the ORIGINAL
    * checkpointed handle. */
  private def statsReset(ck: DataFrame): DataFrame =
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)

  /** Apply [[statsReset]] on every `statsResetPeriod`-th round. */
  private val statsResetPeriod = 8
  private def statsResetEvery(round: Int, ck: DataFrame): DataFrame =
    if (round % statsResetPeriod == statsResetPeriod - 1) statsReset(ck) else ck

  /** Free the block store of a localCheckpointed DataFrame explicitly
    * (its RDD is persisted outside the CacheManager, so `unpersist` on
    * the Dataset is a no-op and cleanup otherwise waits for driver GC).
    * Safe no-op if the plan is not the expected LogicalRDD shape. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }.foreach { rdd: RDD[_] => rdd.unpersist(blocking = false) }
}
