package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Overlap, Tables}

/** Project affinity grouping — tag-based Jaccard affinity
  * (grouping/affinity/tag_affinity.rs: per-project distinct tag
  * profiles → pairwise Jaccard ≥ 0.25 → connected-component groups,
  * build_tag_affinity_groups' A~B~C transitivity).
  *
  * Relational shape: profiles come from the keyword pipeline's tag
  * output joined to the tenant axis (source); |A∩B| is ONE key-equality
  * self-join on tag grouped per tenant pair (shuffle ∝ shared-tag
  * pairs, never tenants²·|tags|); Jaccard = inter/(|A|+|B|−inter) is
  * exact integer rationals, so the edge set is bit-identical across
  * engines. Components resolve by iterative min-label propagation over
  * the tiny tenant graph — a bounded DataFrame loop (the tenant axis is
  * thousands at most; iterations cap the diameter and the loop exits
  * early at fixpoint).
  */
object Grouping {

  /** Connected components via min-label propagation over (a, b) edges
    * with POINTER JUMPING: each round takes the min over the node's own
    * label, its neighbours' labels, and its label's label — the
    * shortcut halves chain lengths, so convergence is O(log diameter)
    * rounds, not O(diameter); the fixpoint check exits early and
    * `maxIters` (2^16-diameter headroom) is only a runaway guard.
    *
    * Both paths compute the same fixpoint — every node labelled with
    * its component's minimum id — so under `compactEdgeLimit` the
    * label map comes from a driver union-find with min-root union over
    * the collected edge list (each caller's graph here is TENANT- or
    * tag-level: orders of magnitude smaller than the corpus), which
    * replaces ~3 Spark jobs per propagation round with one collect.
    * Past the limit the propagation loop scales out unchanged.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 16,
                          compactEdgeLimit: Long = 4L << 20): DataFrame =
    componentsGated(edges, maxIters, compactEdgeLimit) { bidir =>
      val spark = bidir.sparkSession
      import spark.implicits._
      unionFind(bidir.as[(String, String)].collect()).toSeq.toDF("node", "label")
    }

  /** Long-keyed twin of [[connectedComponents]] for corpus-scale id
    * graphs (doc ids): the SAME pointer-jumping propagation loop and
    * the SAME union-find core under the gate — only the collected edge
    * encoding differs (a string min-label over numeric ids would order
    * lexicographically and diverge from the distributed `least`).
    */
  def connectedComponentsLong(edges: DataFrame, maxIters: Int = 16,
                              compactEdgeLimit: Long = 4L << 20): DataFrame =
    componentsGated(edges, maxIters, compactEdgeLimit) { bidir =>
      val spark = bidir.sparkSession
      import spark.implicits._
      unionFind(bidir.as[(Long, Long)].collect()).toSeq.toDF("node", "label")
    }

  private def componentsGated(edges: DataFrame, maxIters: Int,
                              compactEdgeLimit: Long)
                             (compact: DataFrame => DataFrame): DataFrame = {
    val bidir = edges.select(col("a"), col("b"))
      .union(edges.select(col("b"), col("a")))
      .distinct().localCheckpoint()
    val edgeCount = bidir.count()
    if (edgeCount <= GraphAlgorithms.gatedBudget(compactEdgeLimit)) return compact(bidir)
    var labels = bidir.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val nbrMin = bidir.join(labels, bidir("b") === labels("node"))
        .groupBy(col("a")).agg(min(col("label")).as("nbr_label"))
      val hop = labels.select(col("node").as("ln"), col("label").as("ll"))
      val next = labels
        .join(nbrMin, labels("node") === nbrMin("a"), "left")
        .join(hop, labels("label") === hop("ln"), "left")
        .select(col("node"),
          least(col("label"),
            coalesce(col("nbr_label"), col("label")),
            coalesce(col("ll"), col("label"))).as("label"))
        .transform(graft.GraftFunctions.localCheckpointFreshStats)
      converged = next.join(labels.select(col("node"), col("label").as("prev")), "node")
        .filter(col("label") =!= col("prev")).isEmpty
      labels = next
      iter += 1
    }
    labels
  }

  /** Driver union-find over a collected symmetrized edge list; roots
    * are kept at the component minimum (union by min + path
    * compression), so `find(x)` IS the propagation fixpoint label. */
  private def unionFind[T](pairs: Array[(T, T)])
                          (implicit ord: Ordering[T]): Iterator[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => (k, find(k)))
  }

  /** tag_affinity query: tenants = `source`, profiles = the MMR tag
    * sets of each tenant's documents, groups keyed by the component's
    * minimum tenant id. Tenants with no qualifying affinity edge have
    * no group row (the reference builds groups from affinities only).
    */
  def tagAffinity(spark: SparkSession, dir: String,
                  threshold: Double = 0.25): DataFrame =
    tagAffinityOf(
      KeywordTags.keywordTags(spark, dir),
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source").as("tenant_id")),
      threshold)

  /** The qualifying affinity edge set (a, b, sim) for any pre-computed
    * (doc_id, tag) + (doc_id, tenant_id) frames: exact-rational Jaccard
    * over distinct per-tenant tag profiles, one tag-keyed self-join.
    */
  def tagAffinityEdges(tags: DataFrame, tenants: DataFrame,
                       threshold: Double = 0.25): DataFrame = {
    val prof = tags.join(tenants, "doc_id")
      .select(col("tenant_id"), col("tag")).distinct()
      .localCheckpoint()
    val sizes = prof.groupBy(col("tenant_id")).agg(count(lit(1)).as("sz"))
    val inter = prof.as("x").join(prof.as("y"),
        col("x.tag") === col("y.tag") && col("x.tenant_id") < col("y.tenant_id"))
      .groupBy(col("x.tenant_id").as("a"), col("y.tenant_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("tenant_id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("tenant_id").as("b"), col("sz").as("szb")), "b")
      .withColumn("sim",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Affinity grouping over any pre-computed (doc_id, tag) assignment +
    * (doc_id, tenant_id) axis — callers that already ran the keyword
    * pipeline pass its output here instead of recomputing it.
    */
  def tagAffinityOf(tags: DataFrame, tenants: DataFrame,
                    threshold: Double = 0.25): DataFrame =
    connectedComponents(tagAffinityEdges(tags, tenants, threshold))
      .select(col("node").as("tenant_id"), col("label").as("group_id"))
      .orderBy(col("tenant_id"))

  /** The reference's STORAGE shape shared by the component-building
    * strategies (tag_affinity.rs:157, affinity/computation.rs:98):
    * component members sorted and joined with `|`, sha256-hashed into
    * `<prefix><hexLen hex>` ids, confidence = the mean similarity of
    * the component's qualifying edges (every qualifying edge lies
    * inside one component by construction, so the reference's
    * both-members-in filter is a label join on `a`).
    */
  private def shaComponentGroups(edges: DataFrame, prefix: String, hexLen: Int,
                                 groupType: String): DataFrame = {
    val e = edges.localCheckpoint()
    val labels = connectedComponents(e)
    val ids = labels.groupBy(col("label"))
      .agg(sort_array(collect_list(col("node"))).as("members"))
      .select(col("label"),
        concat(lit(prefix),
          substring(sha2(concat_ws("|", col("members")), 256), 1, hexLen)).as("group_id"))
    val means = e
      .join(labels.select(col("node").as("a"), col("label")), "a")
      .groupBy(col("label")).agg(avg(col("sim")).as("conf"))
    labels.join(ids, "label").join(means, "label")
      .select(col("group_id"), col("node").as("tenant_id"),
        lit(groupType).as("group_type"), round(col("conf"), 6).as("confidence"))
  }

  /** Tag-affinity groups in storage shape (tag_affinity.rs:157
    * tag_affinity_group_id + :168 compute_group_mean_jaccard). */
  def tagAffinityGroupsOf(tags: DataFrame, tenants: DataFrame,
                          threshold: Double = 0.25): DataFrame =
    shaComponentGroups(tagAffinityEdges(tags, tenants, threshold),
      "tag_aff:", 20, "tag_affinity")

  /** Embedding-affinity groups (affinity/grouper.rs:47
    * compute_affinity_groups): pairwise cosine of per-project AGGREGATE
    * embeddings at the 0.7 default (config.rs:14), connected
    * components, `affinity:<15 hex>` ids (computation.rs:98),
    * mean-pairwise-similarity confidence. Similarities compare on
    * round(sim, 6) so threshold membership is engine-stable.
    *
    * The pair generation is a broadcast nested-loop over the TENANT
    * axis (one aggregate row per project) — bounded like the reference's
    * own all-pairs loop (computation.rs:24), never the corpus.
    */
  def affinityGroupsOf(projEmb: DataFrame, threshold: Double = 0.7): DataFrame = {
    val a = projEmb.select(col("tenant_id").as("a"), col("embedding").as("ea"))
    val b = projEmb.select(col("tenant_id").as("b"), col("embedding").as("eb"))
    val edges = a.join(broadcast(b), col("a") < col("b"))
      .withColumn("sim", round(graft.GraftFunctions.cosine(col("ea"), col("eb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
    shaComponentGroups(edges, "affinity:", 15, "affinity")
  }

  /** Per-project aggregate embeddings for the corpus query: the
    * reference loads stored per-project aggregates
    * (affinity/storage.rs load_all_project_embeddings — themselves
    * unit-weighted chunk means, tagging/aggregation.rs:12); the corpus
    * has no project axis on embeddings, so each vector contributes to
    * the FIVE tenants whose residue window (t..t+4 mod 10) covers
    * vec_id%10 — overlapping memberships give the aggregate means real
    * structure (adjacent windows share 4/5 of their vectors → cosine
    * ~0.8, disjoint windows ~0).
    */
  def projectEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until 5).map(lit): _*)).as("off"))
      .withColumn("tenant_id", concat(lit("p"),
        pmod(pmod(col("vec_id"), lit(10)).cast("int") - col("off") + 10, lit(10))
          .cast("string")))
      .select(col("tenant_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("tenant_id"), col("pos"))
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy(col("tenant_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pairs"))
      .select(col("tenant_id"),
        transform(col("pairs"), p => p.getField("m")).as("embedding"))

  /** affinity_groups query over the windowed per-tenant aggregates. */
  def affinityGroups(spark: SparkSession, dir: String): DataFrame =
    affinityGroupsOf(projectEmbeddings(spark, dir))
      .orderBy(col("group_id"), col("tenant_id"))

  /** Workspace groups (workspace/mod.rs:29 compute_workspace_groups):
    * watch folders sharing a detected workspace root group under
    * `workspace:<workspace_id>` at confidence 1.0; single-member
    * workspaces are skipped. Detection itself is workspace_detect; this
    * strategy consumes the (tenant, workspace_root) membership.
    */
  def workspaceGroupsOf(folders: DataFrame): DataFrame = {
    val keyed = folders.select(col("tenant_id"),
      concat(lit("workspace:"), WorkspaceDetection.workspaceId(col("workspace_root")))
        .as("group_id"))
    val multi = keyed.groupBy(col("group_id")).agg(count(lit(1)).as("members"))
      .filter(col("members") >= 2).select(col("group_id"))
    keyed.join(multi, "group_id")
      .select(col("group_id"), col("tenant_id"),
        lit("workspace").as("group_type"), lit(1.0).as("confidence"))
  }

  /** workspace_groups query: tenants (= `source`) map onto shared
    * monorepo roots `/mono/w<n%5>` — four members per root. */
  def workspaceGroups(spark: SparkSession, dir: String): DataFrame = {
    val n = expr("CAST(substring(tenant_id, 4) AS INT)")
    val folders = Tables.documents(spark, dir)
      .select(col("source").as("tenant_id")).distinct()
      .withColumn("workspace_root",
        concat(lit("/mono/w"), pmod(n, lit(5)).cast("string")))
    workspaceGroupsOf(folders).orderBy(col("group_id"), col("tenant_id"))
  }

  /** project_groups query — the unified `project_groups` table ALL FIVE
    * grouping strategies write into (grouping/schema.rs add_to_group,
    * scheduler.rs:305 compute_all_groups): tag-affinity components
    * (sha-hashed ids, mean-edge confidence), embedding-affinity
    * components, git-org groups (confidence 1.0), dependency pair
    * groups (pair similarity), and workspace groups (confidence 1.0) —
    * one row per (group, member) with group_type discriminating.
    */
  def projectGroups(spark: SparkSession, dir: String): DataFrame = {
    // The five strategies are INDEPENDENT pipelines whose construction
    // is eager (internal localCheckpoints, gate counts, the union-find
    // collects) — built sequentially they serialize ~80 small driver
    // jobs while the cluster idles (measured 9.2 s wall for 10.3 task-
    // seconds at sf0.1/local[32]). Building them concurrently lets each
    // strategy's job chain back-fill the others' idle time — the same
    // win on a real cluster, where these chains leave executors idle
    // between tiny stages. Results and union order are unchanged.
    Overlap.all(spark)(
      "project_groups/tag_affinity" -> (() => tagAffinityGroupsOf(
        KeywordTags.keywordTags(spark, dir),
        Tables.documents(spark, dir).select(col("doc_id"), col("source").as("tenant_id")))),
      "project_groups/affinity" -> (() => affinityGroups(spark, dir)),
      "project_groups/git_org" -> (() => gitOrgGroups(spark, dir)
        .select(col("group_id"), col("tenant_id"),
          lit("git_org").as("group_type"), lit(1.0).as("confidence"))),
      "project_groups/dependency" -> (() => DependencyGrouping.dependencyGroups(spark, dir)
        .select(col("group_id"), col("tenant_id"),
          lit("dependency").as("group_type"), col("similarity").as("confidence"))),
      "project_groups/workspace" -> (() => workspaceGroups(spark, dir)))
      .reduce(_.unionByName(_))
      .orderBy(col("group_type"), col("group_id"), col("tenant_id"))
  }

  /** normalize_git_url (common/src/project_id/calculator.rs:76) as one
    * codegen'd column expression: lowercase, strip one leading
    * https/http/ssh/git scheme, strip userinfo (`user[:pw]@` — greedy
    * `^[^/]*@` consumes through the LAST `@` before the first `/`, like
    * the reference's rfind on the pre-path segment), convert scp-like
    * `host:path` to `host/path` ONLY when schemeless AND userinfo was
    * stripped (the reference's nested branch), drop a `.git` suffix and
    * trailing slashes.
    */
  def normalizeGitUrl(url: Column): Column = {
    val u0 = lower(url)
    val hadScheme = u0.rlike("^(https|http|ssh|git)://")
    val u1 = regexp_replace(u0, "^(https|http|ssh|git)://", "")
    val hadUser = u1.rlike("^[^/]*@")
    val u2 = regexp_replace(u1, "^[^/]*@", "")
    val u3 = when(!hadScheme && hadUser,
      regexp_replace(u2, "^([^:]*):", "$1/")).otherwise(u2)
    val u4 = regexp_replace(u3, "\\.git$", "")
    regexp_replace(u4, "/+$", "")
  }

  /** extract_git_org (grouping/git_org.rs:27): `host/org` from the
    * normalized URL, null when the URL has fewer than host/org/repo
    * parts or an empty host/org — so `https://example.com/repo` (no org
    * level) yields no group key.
    */
  def extractGitOrg(url: Column): Column = {
    val parts = split(normalizeGitUrl(url), "/")
    when(url.isNotNull && url =!= "" &&
        size(parts) >= 3 && element_at(parts, 1) =!= "" && element_at(parts, 2) =!= "",
      concat(element_at(parts, 1), lit("/"), element_at(parts, 2)))
  }

  /** Git-org grouping over a (tenant_id, remote_url) frame
    * (git_org.rs:70 compute_git_org_groups): extract org keys, keep
    * orgs with 2+ member projects (single-project orgs are skipped),
    * one membership row per (group, tenant) with the reference's
    * `git_org:<host>/<org>` group id (git_org.rs:57 org_to_group_id).
    *
    * Relational shape: the tenant axis is tiny (one row per registered
    * project), so this is a projection + one groupBy on the org key +
    * a join back — no corpus scan at all when the caller already holds
    * the project registry.
    */
  def gitOrgGroupsOf(projects: DataFrame): DataFrame = {
    val keyed = projects
      .select(col("tenant_id"), extractGitOrg(col("remote_url")).as("org_key"))
      .filter(col("org_key").isNotNull)
    val multi = keyed.groupBy(col("org_key")).agg(count(lit(1)).as("members"))
      .filter(col("members") >= 2)
      .select(col("org_key"))
    keyed.join(multi, "org_key")
      .select(concat(lit("git_org:"), col("org_key")).as("group_id"), col("tenant_id"))
      .orderBy(col("group_id"), col("tenant_id"))
  }

  /** git_org_groups query: the corpus has no remote-URL column, so each
    * tenant (= `source`, shaped `src<n>`) gets a deterministic synthetic
    * remote spanning the reference's URL shapes — https, scp-like
    * `git@host:org/repo.git`, `ssh://git@`, mixed-case org names, and a
    * no-org URL every 7th tenant — with host keyed on n%2 and org on
    * n%3 so org keys genuinely collide into multi-project groups.
    */
  def gitOrgGroups(spark: SparkSession, dir: String): DataFrame = {
    val n = expr("CAST(substring(tenant_id, 4) AS INT)")
    val host = element_at(
      array(lit("github.com"), lit("gitlab.com")), (pmod(n, lit(2)) + 1).cast("int"))
    val org = concat(
      when(pmod(n, lit(2)) === 0, lit("Org")).otherwise(lit("org")),
      pmod(n, lit(3)).cast("string"))
    val scheme = pmod(floor(n / lit(3)).cast("int"), lit(3))
    val url = when(pmod(n, lit(7)) === 0,
        concat(lit("https://example.com/repo"), n.cast("string")))
      .when(scheme === 0,
        concat(lit("https://"), host, lit("/"), org, lit("/repo"), n.cast("string"), lit(".git")))
      .when(scheme === 1,
        concat(lit("git@"), host, lit(":"), org, lit("/repo"), n.cast("string"), lit(".git")))
      .otherwise(
        concat(lit("ssh://git@"), host, lit("/"), org, lit("/repo"), n.cast("string")))
    val projects = Tables.documents(spark, dir)
      .select(col("source").as("tenant_id")).distinct()
      .withColumn("remote_url", url)
    gitOrgGroupsOf(projects)
  }
}
