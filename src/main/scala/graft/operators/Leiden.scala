package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Overlap, Tables}

/** Leiden community detection over the order-derived relationship graph
  * (reference: src/rust/daemon/core/src/graph/algorithms/leiden/mod.rs —
  * CPM objective H = Σ_c [e_c − γ·(n_c choose 2)], three-phase loop
  * local-move → refine → aggregate, plus the DOM-06 size-gated
  * recursive split at γ' = γ·step; refine.rs — γ-well-connectedness
  * merge guard; Traag, Waltman & van Eck 2019).
  *
  * Architecture mirrors [[GraphAlgorithms.betweenness]]: the heavy part
  * at 100 TB — deduplicating and weight-summing the edge list out of
  * the raw tables — runs in the cluster; the partition itself is
  * inherently sequential (the reference mandates single-threaded
  * BTreeMap determinism), so under [[GraphAlgorithms.estimatedAdjacencyBytes]]'
  * byte budget the COMPACT weighted adjacency is collected and the
  * faithful sequential algorithm runs on it. Beyond the budget,
  * [[leidenFrontier]] runs bucketed synchronous CPM local-move rounds
  * entirely as DataFrame joins — a documented single-level
  * approximation (no refine/split), the standard distributed-Louvain
  * trade-off — which the specs pin to the reference partitions on the
  * reference's own test graphs.
  *
  * Output: (node_id, community), community = smallest member node id
  * (the same stable labeling as [[GraphAlgorithms.communities]]).
  */
object Leiden {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** CPM config, defaults = LeidenConfig::default (mod.rs:75). */
  case class Config(resolution: Double = 1.0, resolutionStep: Double = 1.5,
                    maxCommunityMembers: Int = 200, minCommunityMembers: Int = 4)

  /** Sweep caps bounding worst-case work on pathological graphs. The
    * reference loops to exact stability (fine on code graphs of
    * thousands of nodes); on the dense synthetic order graph the
    * zero-gain tie-churn makes unbounded sweeps quadratic-feeling, so
    * each phase is capped — every parity graph converges well inside
    * these, and a capped run is still deterministic.
    */
  private val MaxLocalMoveSweeps = 12
  private val MaxRefineSweeps = 8
  private val MaxOuterLoops = 6

  /** Weighted undirected edges from shared orders: weight = number of
    * distinct orders linking the supplier and customer (the multi-edge
    * count the reference sums when symmetrising, mod.rs:121).
    */
  def weightedEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    // distinct + count on the integer keys, namespaced ids concatenated
    // after the aggregation (round 16, guide §2.3): the prefixed concat
    // is injective so the grouping is unchanged, and both exchanges
    // carry longs instead of strings.
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), col("o_custkey"), col("l_orderkey"))
      .distinct()
      .groupBy(col("l_suppkey"), col("o_custkey"))
      .agg(count(lit(1)).cast("double").as("w"))
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"), col("w"))
  }

  /** graph_leiden query: Leiden over the order graph. */
  def graphLeiden(spark: SparkSession, dir: String,
                  config: Config = Config(),
                  broadcastByteBudget: Long = 256L << 20): DataFrame =
    leidenEdges(spark, weightedEdges(spark, dir), config, broadcastByteBudget)

  /** Weighted modularity of a membership over a SYMMETRIC weighted
    * edge list `und(u, v, w)` (each undirected edge present in both
    * directions, self-loops absent):
    * Q = w_in/2m − Σ_c (tot_c/2m)², with 2m = Σ w over the symmetric
    * list, w_in = Σ w over same-community entries of that list (the
    * double-counting cancels against the 2m normalizer), tot_c = Σ of
    * member strengths. Nodes missing from `membership` count as their
    * own singleton community (the filter-tolerant convention). Pure
    * aggregate work: two edge-list joins against the membership map,
    * three scalar aggregates — no quadratic term at any scale.
    */
  def modularityOf(und: DataFrame, membership: DataFrame): DataFrame = {
    val nodes = und.select(col("u").as("node_id")).distinct()
    val full = nodes.join(membership.select(col("node_id"), col("community")),
        Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("community"), col("node_id")).as("community"))
    val cu = full.select(col("node_id").as("u"), col("community").as("cu"))
    val cv = full.select(col("node_id").as("v"), col("community").as("cv"))
    val twoM = und.agg(sum(col("w")).as("two_m"))
    val wIn = und.join(cu, Seq("u")).join(cv, Seq("v"))
      .filter(col("cu") === col("cv"))
      .agg(coalesce(sum(col("w")), lit(0.0)).as("w_in"))
    val strength = und.groupBy(col("u")).agg(sum(col("w")).as("k"))
    // squared via multiplication, not pow(x, 2): Math.pow is not
    // guaranteed bit-equal to x*x, and the oracle twin multiplies
    val sqSum = strength.join(cu, Seq("u"))
      .groupBy(col("cu")).agg(sum(col("k")).as("tot"))
      .crossJoin(twoM)
      .agg(coalesce(sum((col("tot") / col("two_m")) * (col("tot") / col("two_m"))),
        lit(0.0)).as("sq"))
    wIn.crossJoin(twoM).crossJoin(sqSum)
      .select((col("w_in") / col("two_m") - col("sq")).as("modularity"))
  }

  /** graph_leiden_cert query: the quality certificate that lets the
    * driver's DuckDB gate SEE Leiden (round-14 board #7 — previously
    * the only rows-only entry adjudicated on spec vectors alone). Same
    * posture as the ANN recall certs: the seeded/iterative Leiden
    * internals stay Spark-side; the oracle recomputes the PORTABLE
    * half — the weighted order graph's total weight and the modularity
    * of the exactly-reproducible label-propagation membership (the
    * graph_communities recursive CTE with the min-size filter dropped,
    * so singletons stay their own community on both engines) — and
    * pins `cert = true`, which only hash-matches if the Spark side
    * MEASURED Leiden's modularity meeting the bound on this corpus.
    *
    * Calibration (round 14): the order graph is BIPARTITE
    * (suppliers↔customers), and synchronous label-prop degenerates on
    * it to the two-sided split — zero intra-community weight and equal
    * side strengths, so q_labelprop = −0.5 EXACTLY at every SF (the
    * exactness is itself a strong cross-engine pin: it requires the
    * oracle's label-prop fixpoint and modularity arithmetic to agree
    * bit-for-bit). Because that baseline is degenerate, beating it is
    * necessary but weak — the cert therefore ALSO demands
    * `q_leiden > 0`: Leiden must find genuinely assortative structure
    * (measured 0.0174 at sf0.01, 0.0098 at sf0.1 — low absolute
    * modularity is expected of a dense near-bipartite graph; positive
    * is the meaningful line Leiden clears and both baselines do not).
    */
  def graphLeidenCert(spark: SparkSession, dir: String): DataFrame = {
    // one weighted-edge derivation feeds Leiden, the baseline, and
    // both modularity passes (graphLeiden(spark, dir) would re-join
    // lineitem×orders a second time)
    val e = weightedEdges(spark, dir).localCheckpoint()
    val und = e.filter(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(e.filter(col("src") =!= col("dst"))
        .select(col("dst"), col("src"), col("w")))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      .localCheckpoint()
    // The two memberships are INDEPENDENT (Leiden's sequential driver
    // loop vs the label-prop baseline's compact rounds) and each ends
    // in its own driver compute over the same pinned frames — built
    // sequentially the cert paid sum-of-chains, so they overlap;
    // `leidenUnd` additionally reuses the symmetrized frame above
    // instead of re-deriving it from `e`.
    val Seq(qLeiden, qLp) = Overlap.all(spark)(
      "graph_leiden_cert/leiden" -> (() => modularityOf(und, leidenUnd(spark, und, Config()))
        .select(col("modularity").as("q_leiden")).localCheckpoint()),
      "graph_leiden_cert/labelprop" -> (() => modularityOf(und,
          GraphAlgorithms.communitiesEdges(
            e.select(col("src"), col("dst")), iterations = 10, minSize = 1))
        .select(col("modularity").as("q_labelprop")).localCheckpoint()))
    val totalW = und.agg((sum(col("w")) / 2).cast("long").as("total_w"))
    // EXACT-REPRESENTABILITY DEPENDENCY (round-14 advice): hashing
    // round(q_labelprop, 6) against DuckDB's independently-summed
    // double is safe on THIS graph only because the bipartite
    // degeneracy makes every term exactly representable (w_in = 0,
    // tot_c = integer strengths, 2m = integer) so q_labelprop is
    // EXACTLY -0.5 on both engines at every SF — no summation-order
    // sensitivity exists to round away. On a non-degenerate graph,
    // differing summation order could flip the 6th decimal; a caller
    // adapting this cert to another graph should move the modularity
    // to a Spark-side inequality input (like q_leiden) and hash only
    // total_w + cert. The modularity ARITHMETIC itself is
    // property-randomized cross-engine by OracleProps' modularity
    // family over random weighted graphs (round 15).
    totalW.crossJoin(qLp).crossJoin(qLeiden)
      .select(col("total_w"),
        round(col("q_labelprop"), 6).as("labelprop_modularity"),
        (col("q_leiden") >= col("q_labelprop") - 1e-6 &&
          col("q_leiden") > 0).as("cert"))
  }

  /** OracleProps family-10 cert (round-15 board #5): property-test
    * [[modularityOf]]'s ARITHMETIC on a random small weighted graph
    * with a GIVEN membership — the axis graph_leiden_cert pins only at
    * the bipartite −0.5 degeneracy and LeidenSpec's hand graphs.
    *
    * FP-robust design (the round-14 advice on summation-order
    * sensitivity, applied up front): with integer weights, Q is the
    * exact rational (w_in·2m − Σ tot_c²) / (2m)², so the HASHED
    * columns are the BIGINT numerator/denominator — bit-exact on any
    * engine, no rounding boundary to flip. The DuckDB twin recomputes
    * both integers from the same embedded graph + membership
    * (independently deriving w_in, strengths, community totals — the
    * full formula structure) and pins `cert = true`, which only
    * matches if the Spark-side MEASURED [[modularityOf]] double
    * (the real operator pipeline, joins + aggregates) agrees with the
    * exact rational within 1e-12. Nodes absent from `membership`
    * exercise the singleton-default coalesce arm on both engines.
    */
  def modularityRationalCertOf(spark: SparkSession,
                               edges: Seq[(String, String, Long)],
                               membership: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    require(edges.nonEmpty, "modularity cert needs at least one edge")
    // exact rational in Scala longs (arithmetic on exact integers)
    val memb = membership.toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val commOf = nodes.map(nd => nd -> memb.getOrElse(nd, nd)).toMap
    val twoM = 2L * edges.map(_._3).sum
    val wIn = 2L * edges.filter(e => commOf(e._1) == commOf(e._2)).map(_._3).sum
    val strength = nodes.map(nd =>
      nd -> edges.collect {
        case (a, b, w) if a == nd || b == nd => w
      }.sum).toMap
    val tot = strength.groupBy { case (nd, _) => commOf(nd) }
      .map { case (_, ks) => ks.values.sum }
    val qNum = wIn * twoM - tot.map(t => t * t).sum
    val qDen = twoM * twoM
    // the real operator pipeline, measured against the rational
    val und = edges.toDF("u", "v", "w")
      .select(col("u"), col("v"), col("w").cast("double"))
    val undSym = und.unionByName(
      und.select(col("v").as("u"), col("u").as("v"), col("w")))
    val membDf = membership.toDF("node_id", "community")
    val q = modularityOf(undSym, membDf).collect()(0).getDouble(0)
    val cert = math.abs(q - qNum.toDouble / qDen.toDouble) <= 1e-12
    Seq((qNum, qDen, cert)).toDF("q_num", "q_den", "cert")
  }

  /** Generated DuckDB twin of [[modularityRationalCertOf]]: the same
    * graph + membership embedded as VALUES, the same integer formula
    * recomputed independently (symmetric list, singleton-default
    * membership, strengths, community totals), cert pinned true. */
  def modularityRationalOracleFor(edges: Seq[(String, String, Long)],
                                  membership: Seq[(String, String)]): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val eVals = edges.map { case (u, v, w) => s"(${q(u)}, ${q(v)}, $w)" }.mkString(", ")
    val mVals = membership.map { case (n, c) => s"(${q(n)}, ${q(c)})" }.mkString(", ")
    s"""WITH e(u, v, w) AS (VALUES $eVals),
       |memb(node, community) AS (VALUES $mVals),
       |und AS (SELECT u, v, w FROM e UNION ALL SELECT v, u, w FROM e),
       |nodes AS (SELECT DISTINCT u AS node FROM und),
       |fullm AS (
       |  SELECT n.node, coalesce(m.community, n.node) AS community
       |  FROM nodes n LEFT JOIN memb m ON m.node = n.node),
       |two_m AS (SELECT CAST(sum(w) AS BIGINT) AS tm FROM und),
       |win AS (
       |  SELECT CAST(coalesce(sum(u.w), 0) AS BIGINT) AS w_in
       |  FROM und u
       |  JOIN fullm a ON a.node = u.u
       |  JOIN fullm b ON b.node = u.v
       |  WHERE a.community = b.community),
       |str AS (SELECT u, CAST(sum(w) AS BIGINT) AS k FROM und GROUP BY 1),
       |tot AS (
       |  SELECT f.community, CAST(sum(s.k) AS BIGINT) AS t
       |  FROM str s JOIN fullm f ON f.node = s.u GROUP BY 1),
       |sq AS (SELECT CAST(coalesce(sum(t * t), 0) AS BIGINT) AS s FROM tot)
       |SELECT CAST(win.w_in * two_m.tm - sq.s AS BIGINT) AS q_num,
       |  CAST(two_m.tm * two_m.tm AS BIGINT) AS q_den,
       |  true AS cert
       |FROM win CROSS JOIN two_m CROSS JOIN sq""".stripMargin
  }

  /** Leiden over any (src, dst, w) weighted edge DataFrame. `buckets`
    * only affects the over-budget frontier path.
    *
    * EDGES-DEFINE-NODES CONTRACT: the node set is derived from the edge
    * list, so a node present in the reference's AdjacencyExport but
    * carrying no edges gets NO community row here (the reference emits
    * it as a singleton). The order-derived graph has no such nodes —
    * every node arrives on an edge; callers with isolated nodes should
    * union singleton rows for `nodes ∖ edge-endpoints` themselves.
    */
  def leidenEdges(spark: SparkSession, e: DataFrame, config: Config,
                  broadcastByteBudget: Long = 256L << 20,
                  buckets: Int = 8): DataFrame = {
    // Symmetrise + weight-sum in the cluster (mod.rs:121
    // build_undirected_adj; self-loops dropped).
    val und = e.filter(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(e.filter(col("src") =!= col("dst"))
        .select(col("dst"), col("src"), col("w")))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      .localCheckpoint()
    leidenUnd(spark, und, config, broadcastByteBudget, buckets)
  }

  /** Leiden over an already-symmetrized, weight-summed, self-loop-free
    * (u, v, w) frame — the [[leidenEdges]] tail, exposed so callers
    * that already hold the symmetric frame (graphLeidenCert computes
    * it for the modularity passes) don't re-derive it.
    */
  def leidenUnd(spark: SparkSession, und: DataFrame, config: Config,
                broadcastByteBudget: Long = 256L << 20,
                buckets: Int = 8): DataFrame = {
    val adjDf = und.groupBy(col("u"))
      .agg(sort_array(collect_list(struct(col("v"), col("w")))).as("nbrs"))
      .localCheckpoint()
    // shared estimator; +8 bytes/entry for the edge weight double
    val (_, estBytes) =
      GraphAlgorithms.estimatedAdjacencyBytes(adjDf, entryExtraBytes = 8L)
    if (estBytes <= GraphAlgorithms.gatedBudget(broadcastByteBudget)) leidenCompact(spark, adjDf, config)
    else {
      // Runtime signal for the algorithm switch: past the budget the
      // frontier path runs single-level local-move only — no refine, no
      // size-gated split (maxCommunityMembers unenforced), so oversized
      // communities in the output are attributable to this log line.
      log.info(s"graph_leiden: adjacency ~$estBytes bytes over budget " +
        s"$broadcastByteBudget — distributed frontier path (no refine/split)")
      leidenFrontier(spark, und, config, buckets)
    }
  }

  // ------------------------------------------------------------------
  // Compact path: faithful sequential Leiden on the collected adjacency
  // ------------------------------------------------------------------

  private def leidenCompact(spark: SparkSession, adjDf: DataFrame,
                            config: Config): DataFrame = {
    import spark.implicits._
    val rows = adjDf.as[(String, Seq[(String, Double)])].collect().sortBy(_._1)
    val ids = rows.map(_._1)
    val idx = ids.zipWithIndex.toMap
    val adj: Array[Array[(Int, Double)]] =
      rows.map(_._2.map { case (v, w) => (idx(v), w) }.sortBy(_._1).toArray)
    val partition = detect(adj, config)
    // community label = smallest member id
    val byComm = partition.zipWithIndex.groupMap(_._1)(_._2)
    val label = new Array[String](ids.length)
    byComm.values.foreach { members =>
      val lbl = ids(members.min)
      members.foreach(m => label(m) = lbl)
    }
    ids.indices.map(i => (ids(i), label(i))).toDF("node_id", "community")
      .orderBy(col("node_id"))
  }

  /** detect_communities_leiden (mod.rs:95): flat Leiden at γ, then the
    * DOM-06 recursive size-gated split. Returns community id per node
    * index.
    */
  def detect(adj: Array[Array[(Int, Double)]], config: Config): Array[Int] = {
    val n = adj.length
    if (n == 0) return Array.empty
    val flat = flatLeiden(adj, config.resolution)
    val out = new Array[Int](n)
    var nextId = 0
    (0 until n).groupBy(flat).toSeq.sortBy(_._2.min).foreach { case (_, nodes) =>
      val members = nodes.toArray.sorted
      splitCommunity(members, adj, config, config.resolution).foreach { comm =>
        comm.foreach(m => out(m) = nextId)
        nextId += 1
      }
    }
    out
  }

  /** split_community (mod.rs:357): re-cluster an oversize community at
    * γ' = γ·step on its induced subgraph; accept only a clean ≥2-way
    * split whose parts all meet the min size, else keep whole.
    */
  private def splitCommunity(members: Array[Int], adj: Array[Array[(Int, Double)]],
                             config: Config, resolution: Double): Seq[Array[Int]] = {
    if (members.length < config.maxCommunityMembers ||
        members.length < config.minCommunityMembers) return Seq(members)
    val origToSub = members.zipWithIndex.toMap
    val subAdj: Array[Array[(Int, Double)]] = members.map { orig =>
      adj(orig).flatMap { case (j, w) => origToSub.get(j).map(sj => (sj, w)) }
    }
    val nextRes = resolution * config.resolutionStep
    // Once γ' exceeds every edge weight no singleton merge has positive
    // gain — the community is irreducible at any deeper level, so the
    // recursion can stop without running flat Leiden at all.
    val maxW = subAdj.iterator.flatMap(_.iterator.map(_._2)).maxOption.getOrElse(0.0)
    if (nextRes > maxW) return Seq(members)
    val subPart = flatLeiden(subAdj, nextRes)
    val parts = subAdj.indices.groupBy(subPart).toSeq.sortBy(_._2.min)
      .map { case (_, poss) => poss.map(members).toArray.sorted }
    val clean = parts.length >= 2 && parts.forall(_.length >= config.minCommunityMembers)
    if (!clean) Seq(members)
    else parts.flatMap(p => splitCommunity(p, adj, config, nextRes))
  }

  /** flat_leiden (mod.rs:142): local-move → refine → aggregate loop to
    * convergence. Returns community per node index (arbitrary ids).
    */
  def flatLeiden(adj: Array[Array[(Int, Double)]],
                 resolution: Double): Array[Int] = {
    val n = adj.length
    if (n == 0) return Array.empty
    if (n == 1) return Array(0)
    var partition = Array.tabulate(n)(i => i)
    var converged = false
    var outer = 0
    while (!converged && outer < MaxOuterLoops) {
      outer += 1
      val moved = localMove(adj, partition, resolution)
      val refined = refine(adj, partition, resolution)
      // aggregate graph over refined sub-communities
      val subIds = refined.distinct.sorted
      val subIdx = subIds.zipWithIndex.toMap
      val nodeToAgg = refined.map(subIdx)
      val aggN = subIds.length
      // Self-loops (intra-sub internal weight) are RETAINED (aggregate.rs:73)
      // — they feed w_to_cur in the aggregate local-move and are what
      // prevents re-merging split communities at higher resolution.
      // Built by a counting-sort + per-group scatter pass instead of two
      // TreeMap updates per directed edge: each direction ai→aj
      // accumulates the full w from group ai's pass over its
      // constituents (the TreeMap form summed w/2 from each endpoint's
      // encounter — same total), and intra-group encounters contribute
      // w/2 each, seen twice. Weights are exact multiples of 0.5, so
      // floating sums agree bit-for-bit regardless of order; neighbor
      // arrays are sorted to match the TreeMap's ordering.
      val groupStart = new Array[Int](aggN + 1)
      var i = 0
      while (i < n) { groupStart(nodeToAgg(i) + 1) += 1; i += 1 }
      i = 1
      while (i <= aggN) { groupStart(i) += groupStart(i - 1); i += 1 }
      val order = new Array[Int](n)
      val fillPos = java.util.Arrays.copyOf(groupStart, aggN)
      i = 0
      while (i < n) { val a = nodeToAgg(i); order(fillPos(a)) = i; fillPos(a) += 1; i += 1 }
      val aggW = new Array[Double](aggN)
      val aggSeen = new Array[Int](aggN)
      val aggTouched = new Array[Int](aggN)
      var aggStamp = 0
      val aggAdj = new Array[Array[(Int, Double)]](aggN)
      var a = 0
      while (a < aggN) {
        aggStamp += 1
        var nt = 0
        var p = groupStart(a)
        while (p < groupStart(a + 1)) {
          val node = order(p)
          val nbrs = adj(node)
          var k = 0
          while (k < nbrs.length) {
            val e = nbrs(k)
            val aj = nodeToAgg(e._1)
            val inc = if (aj == a) e._2 / 2.0 else e._2
            if (aggSeen(aj) != aggStamp) {
              aggSeen(aj) = aggStamp; aggW(aj) = inc; aggTouched(nt) = aj; nt += 1
            } else aggW(aj) += inc
            k += 1
          }
          p += 1
        }
        val row = new Array[(Int, Double)](nt)
        var t = 0
        while (t < nt) { row(t) = (aggTouched(t), aggW(aggTouched(t))); t += 1 }
        java.util.Arrays.sort(row, Ordering.by((x: (Int, Double)) => x._1))
        aggAdj(a) = row
        a += 1
      }
      // initial aggregate assignment = phase-1 community of constituents
      val aggPart = new Array[Int](aggN)
      java.util.Arrays.fill(aggPart, -1)
      i = 0
      while (i < n) {
        if (aggPart(nodeToAgg(i)) < 0) aggPart(nodeToAgg(i)) = partition(i)
        i += 1
      }
      val prevAgg = aggPart.clone()
      // Reference-faithful quirk: the aggregate-phase local move reuses
      // the SAME local_move_phase with community sizes counted in
      // AGGREGATE nodes (mod.rs:176 — comm_size over agg_n), not in
      // constituent original nodes, so the (n_c choose 2) term is
      // evaluated on the contracted graph. Textbook CPM would weight by
      // original node counts; the reference does not, and its own test
      // expectations (merge-then-split in int_a3_leiden_recursion)
      // depend on this behavior, so it is reproduced deliberately.
      val aggMoved = localMove(aggAdj, aggPart, resolution)
      val lifted = Array.tabulate(n)(k => aggPart(nodeToAgg(k)))
      if (!moved && !aggMoved) { partition = lifted; converged = true }
      else {
        partition = lifted
        val prevLifted = Array.tabulate(n)(k => prevAgg(nodeToAgg(k)))
        if (partition.sameElements(prevLifted)) converged = true
      }
    }
    partition
  }

  /** local_move_phase (mod.rs:262): visit nodes in index order, move to
    * the neighbouring community maximising CPM ΔH; zero-gain moves go to
    * the lower community id (the reference's tie rule — it is what
    * collapses unit-weight cliques at γ=1); repeat until stable.
    */
  def localMove(adj: Array[Array[(Int, Double)]], partition: Array[Int],
                resolution: Double): Boolean = {
    val n = adj.length
    if (n == 0) return false
    // Scatter buffers over the community-id space (ids are node indices
    // of this or an ancestor level, so bounded by max(partition) — the
    // per-node HashMap this replaces boxed every key and value on a
    // 16k-node/600k-edge graph × 12 sweeps × outer loops). Stamps make
    // per-node resets O(touched), and the argmax rule (strictly-better
    // gain, or equal gain and lower community id) is iteration-order
    // independent, so the touch-order traversal is outcome-identical.
    var maxId = n - 1
    var i = 0
    while (i < n) { if (partition(i) > maxId) maxId = partition(i); i += 1 }
    val commSize = new Array[Int](maxId + 1)
    i = 0
    while (i < n) { commSize(partition(i)) += 1; i += 1 }
    val wTo = new Array[Double](maxId + 1)
    val seen = new Array[Int](maxId + 1)
    val touched = new Array[Int](maxId + 1)
    var stamp = 0
    var anyMoved = false
    var changed = true
    var sweeps = 0
    while (changed && sweeps < MaxLocalMoveSweeps) {
      changed = false; sweeps += 1
      var node = 0
      while (node < n) {
        val cCur = partition(node)
        val sizeCur = commSize(cCur)
        stamp += 1
        val nbrs = adj(node)
        var nt = 0
        var k = 0
        while (k < nbrs.length) {
          val e = nbrs(k)
          val c = partition(e._1)
          if (seen(c) != stamp) {
            seen(c) = stamp; wTo(c) = e._2; touched(nt) = c; nt += 1
          } else wTo(c) += e._2
          k += 1
        }
        val wToCur = if (seen(cCur) == stamp) wTo(cCur) else 0.0
        val deltaRemove = -wToCur + resolution * (sizeCur - 1.0)
        var bestComm = cCur
        var bestGain = 0.0
        var t = 0
        while (t < nt) {
          val cCand = touched(t)
          if (cCand != cCur) {
            val gain = deltaRemove + (wTo(cCand) - resolution * commSize(cCand))
            if (gain > bestGain || (gain == bestGain && cCand < bestComm)) {
              bestGain = gain; bestComm = cCand
            }
          }
          t += 1
        }
        if (bestComm != cCur) {
          commSize(cCur) -= 1
          commSize(bestComm) += 1
          partition(node) = bestComm
          changed = true; anyMoved = true
        }
        node += 1
      }
    }
    anyMoved
  }

  /** refine_partition (refine.rs:30): within each phase-1 community,
    * nodes (initially singleton sub-communities) merge into
    * γ-well-connected partners — the cut weight from the CANDIDATE sub
    * to the rest of the community must exceed γ·|T|·(|C|−|T|) — and
    * only on a strict CPM gain. Reference-faithful detail: refine.rs
    * checks well-connectedness of the candidate T only, never of the
    * moving node, and its `while changed` loop lets already-merged
    * nodes keep moving between subs across sweeps (Traag 2019's
    * Algorithm 2 restricts moves to singleton nodes; the reference
    * does not, and this port follows the reference).
    */
  def refine(adj: Array[Array[(Int, Double)]], partition: Array[Int],
             resolution: Double): Array[Int] = {
    val n = adj.length
    val refined = Array.tabulate(n)(i => i)
    // Scatter buffers over the node-id space (sub-community ids are node
    // indices), allocated once and re-stamped per community/visit — the
    // per-node HashMaps and per-community Set this replaces boxed every
    // key on the hot path; outcome is identical (the tie rule is
    // iteration-order independent, and each buffer is only read for the
    // current community's members).
    val memberMark = new Array[Int](n)
    val degC = new Array[Double](n)
    val subSize = new Array[Int](n)
    val subDeg = new Array[Double](n)
    val subInt = new Array[Double](n)
    val wToSub = new Array[Double](n)
    val seen = new Array[Int](n)
    val touched = new Array[Int](n)
    var commStamp = 0
    var visitStamp = 0
    partition.indices.groupBy(partition).toSeq.sortBy(_._1).foreach { case (_, membersSeq) =>
      val members = membersSeq.toArray.sorted
      val cSize = members.length
      if (cSize > 1) {
        commStamp += 1
        var mi = 0
        while (mi < cSize) { memberMark(members(mi)) = commStamp; mi += 1 }
        // degC(x): weight from x to the rest of C — fixed per phase-1
        // community, so the γ-well-connectedness cut of a sub T is
        // w(T, C\T) = Σ_{m∈T} degC(m) − 2·W_int(T), maintained
        // incrementally instead of rescanning members per candidate
        // (the reference rescans, refine.rs:118 — O(|C|²·deg); this is
        // the same quantity in O(deg) per visit).
        mi = 0
        while (mi < cSize) {
          val m = members(mi)
          val nbrs = adj(m)
          var s = 0.0
          var k = 0
          while (k < nbrs.length) {
            val e = nbrs(k)
            if (e._1 != m && memberMark(e._1) == commStamp) s += e._2
            k += 1
          }
          degC(m) = s
          subSize(m) = 1; subDeg(m) = s; subInt(m) = 0.0
          mi += 1
        }
        var changed = true
        var sweeps = 0
        while (changed && sweeps < MaxRefineSweeps) {
          changed = false; sweeps += 1
          mi = 0
          while (mi < cSize) {
            val node = members(mi)
            val curSub = refined(node)
            visitStamp += 1
            val nbrs = adj(node)
            var nt = 0
            var k = 0
            while (k < nbrs.length) {
              val e = nbrs(k)
              if (e._1 != node && memberMark(e._1) == commStamp) {
                val s = refined(e._1)
                if (seen(s) != visitStamp) {
                  seen(s) = visitStamp; wToSub(s) = e._2; touched(nt) = s; nt += 1
                } else wToSub(s) += e._2
              }
              k += 1
            }
            val wToCurSub = if (seen(curSub) == visitStamp) wToSub(curSub) else 0.0
            val deltaRemove = -wToCurSub + resolution * (subSize(curSub) - 1.0)
            var bestSub = curSub
            var bestGain = 0.0
            var bestW = 0.0
            var t = 0
            while (t < nt) {
              val candSub = touched(t)
              if (candSub != curSub) {
                val csz = subSize(candSub)
                val cut = subDeg(candSub) - 2.0 * subInt(candSub)
                val threshold = resolution * csz.toDouble * (cSize - csz).toDouble
                if (cut > threshold) {
                  val gain = deltaRemove + (wToSub(candSub) - resolution * csz)
                  if (gain > bestGain || (gain == bestGain && candSub < bestSub)) {
                    bestGain = gain; bestSub = candSub; bestW = wToSub(candSub)
                  }
                }
              }
              t += 1
            }
            if (bestSub != curSub) {
              subSize(curSub) -= 1
              subSize(bestSub) += 1
              subDeg(curSub) -= degC(node)
              subDeg(bestSub) += degC(node)
              subInt(curSub) -= wToCurSub
              subInt(bestSub) += bestW
              refined(node) = bestSub
              changed = true
            }
            mi += 1
          }
        }
      }
    }
    refined
  }

  // ------------------------------------------------------------------
  // Distributed path: bucketed synchronous CPM local-move
  // ------------------------------------------------------------------

  /** Over-budget path: synchronous CPM local-move rounds where only one
    * hash bucket of nodes moves per round (against stats frozen at the
    * round start). Small buckets approach the reference's sequential
    * visit order — with `buckets` ≥ node count each round moves at most
    * a handful of nodes, eliminating the mutual-swap livelock of fully
    * parallel rounds; larger graphs trade fidelity for rounds. A full
    * sweep with no move stops early. Single level, no refine/split —
    * the documented distributed-Louvain approximation.
    */
  def leidenFrontier(spark: SparkSession, und: DataFrame, config: Config,
                     buckets: Int = 8, maxSweeps: Int = 4): DataFrame = {
    val gamma = config.resolution
    var labels = graft.GraftFunctions.localCheckpointFreshStats(
      und.select(col("u").as("node")).distinct()
        .withColumn("label", col("node")))
    var sweep = 0
    var stable = false
    while (sweep < maxSweeps && !stable) {
      var movesThisSweep = 0L
      for (b <- 0 until buckets) {
        val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
        val wTo = und
          .join(labels.withColumnRenamed("node", "v2"), col("v") === col("v2"))
          .groupBy(col("u"), col("label"))
          .agg(sum(col("w")).as("wc"))
        val cur = labels.select(col("node"), col("label").as("cur_label"))
          .join(sizes.select(col("label").as("cur_label"), col("csize").as("cur_size")), "cur_label")
        val cand = wTo
          .join(sizes, "label")
          .select(col("u").as("node"), col("label").as("cand_label"),
            col("wc"), col("csize"))
        val scored = cur
          .filter(pmod(xxhash64(col("node")), lit(buckets)) === b)
          .join(cand, Seq("node"), "left")
          .withColumn("w_cur",
            max(when(col("cand_label") === col("cur_label"), col("wc")).otherwise(lit(0.0)))
              .over(Window.partitionBy(col("node"))))
          .filter(col("cand_label").isNotNull && col("cand_label") =!= col("cur_label"))
          // candidate size excludes the node; current size includes it
          .withColumn("gain",
            (col("wc") - col("w_cur")) +
              lit(gamma) * (col("cur_size") - 1 - col("csize")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("node"))
              .orderBy(col("gain").desc, col("cand_label"))))
          .filter(col("rn") === 1)
          .filter(col("gain") > 0 ||
            (col("gain") === 0 && col("cand_label") < col("cur_label")))
          .select(col("node"), col("cand_label").as("new_label"))
          .transform(graft.GraftFunctions.localCheckpointFreshStats)
        val nMoves = scored.count()
        if (nMoves > 0) {
          labels = graft.GraftFunctions.localCheckpointFreshStats(
            labels.join(scored, Seq("node"), "left")
              .select(col("node"), coalesce(col("new_label"), col("label")).as("label")))
          movesThisSweep += nMoves
        }
      }
      stable = movesThisSweep == 0
      sweep += 1
    }
    labels
      .withColumn("community", min(col("node")).over(Window.partitionBy(col("label"))))
      .select(col("node").as("node_id"), col("community"))
      .orderBy(col("node_id"))
  }
}
