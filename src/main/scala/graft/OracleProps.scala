package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Randomized-config property run for the GENERATED oracles (round-11
  * board #7): the generated DuckDB oracles (trackedSearchOracle,
  * metricLabelsOracle, ExclusionEngineOps.oracleSql,
  * GitattributesOps.oracleSqlFor, the dedup coefficient/band SQL) pin
  * their arms on FIXED config axes by construction — a latent
  * generation bug (wrong literal substitution, arm precedence, SQL
  * escaping) could hide behind the fixed lists and never fail the
  * driver gate. This main re-generates both sides from SEEDED RANDOM
  * configs: for each family it builds a random config, runs the SPARK
  * operator with that config, dumps the result parquet, and emits the
  * GENERATED oracle SQL for the same config — in the exact layout
  * `scripts/check_oracle.py` consumes, so the comparison is the same
  * DuckDB-executed gate the driver runs, not a string check.
  *
  *   runMain graft.OracleProps /root/testdata/sf0.001 target/oracle-props
  *   python3 scripts/check_oracle.py /root/testdata/sf0.001 target/oracle-props
  *
  * Dev-side instrument like Recall/ScaleUp — not part of the query
  * surface. Seeded via SPARK_GRAFT_PROP_SEED (default 11) so a failure
  * reproduces.
  */
object OracleProps {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    val rng = new scala.util.Random(
      sys.env.getOrElse("SPARK_GRAFT_PROP_SEED", "11").toLong)
    val oracles = scala.collection.mutable.LinkedHashMap[String, String]()
    def dump(name: String, df: org.apache.spark.sql.DataFrame,
             sql: String): Unit = {
      Verify.lintSchema(name, df)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      oracles(name) = sql
      System.err.println(s"[props] dumped $name")
    }
    def opt[T](p: Double)(v: => T): Option[T] =
      if (rng.nextDouble() < p) Some(v) else None

    // ---- family 1: metric_labels — the allowlist cap is the config
    // axis (the oracle embeds the capped language IN-list literally).
    for (i <- 0 until 4) {
      val cap = 1 + rng.nextInt(MetricLabels.BundledLanguages.length + 5)
      dump(s"prop_metric_labels_$i",
        MetricLabels.metricLabelsOf(MetricLabels.rawEvents(spark, sfDir), cap),
        SparkEntry.metricLabelsOracleFor(cap))
    }

    // ---- family 2: tracked_search — random ListTrackedFilesOptions
    // sets: every buildFilterClause arm drawn independently, limits
    // exercising the rank cut.
    val langs = Seq("rust", "markdown", "python", "typescript", "go")
    val exts = Seq("rs", "md", "py", "ts", "go")
    val dirsS = Seq("src", "lib", "docs", "tests")
    val branchPool = Seq("main", "dev", "b0", "b1", "b2", "b3")
    val globPool = Seq("**/f1*.rs", "src/f?.rs", "tests/f[0-9].py",
      "lib/f[!2-9].md", "*/f1?.*", "docs/f*", "**/*.go", "src/f[12]*")
    for (i <- 0 until 3) {
      val scns = (0 until 6).map { j =>
        TrackedFilesQueries.SearchScenario(
          name = s"s$j",
          watch = "w-" + rng.nextInt(8),
          path = opt(0.3)(dirsS(rng.nextInt(4))),
          fileType = opt(0.25)(Seq("docs", "code")(rng.nextInt(2))),
          language = opt(0.25)(langs(rng.nextInt(5))),
          extension = opt(0.25)(exts(rng.nextInt(5))),
          includeTests = rng.nextBoolean(),
          branch = opt(0.3)(branchPool(rng.nextInt(branchPool.length))),
          glob = opt(0.3)(globPool(rng.nextInt(globPool.length))),
          componentBasePaths =
            if (rng.nextDouble() < 0.2)
              Seq(dirsS(rng.nextInt(4)), dirsS(rng.nextInt(4))).distinct
            else Nil,
          afterPath = opt(0.2)(s"${dirsS(rng.nextInt(4))}/f${rng.nextInt(20)}"),
          limit = 1 + rng.nextInt(40))
      }
      dump(s"prop_tracked_search_$i",
        TrackedFilesQueries.trackedSearchOf(
          TrackedFilesQueries.tracked(spark, sfDir), scns),
        SparkEntry.trackedSearchOracleFor(scns))
    }

    // ---- family 3: exclusion contains chain — random (pattern,
    // reason) lists over the fixed probe + corpus paths; the pool
    // includes a quote (SQL literal escaping) and a backslash, and
    // random ORDER exercises the first-match precedence of the fold.
    val patPool = Seq(".git", "git", "node_modules", "dist", "out", "tmp",
      ".env", "id_", "~$", ".md", "f1", "rs", "/f2", "docs/", "x.t",
      "ain.", "don't", "a\\b", ".DS_Store", "pub", "line", "build")
    for (i <- 0 until 4) {
      val pats = rng.shuffle(patPool).take(3 + rng.nextInt(8))
        .zipWithIndex.map { case (p, k) => p -> s"r$k" }
      val corpus = TrackedFilesQueries.tracked(spark, sfDir)
        .filter(col("watch_folder_id") === "w-3")
        .select(col("relative_path").as("path"))
      dump(s"prop_exclusion_check_$i",
        ExclusionEngineOps.exclusionCheckOf(
          ExclusionEngineOps.probeRows(spark).unionByName(corpus), pats),
        ExclusionEngineOps.oracleSqlFor(pats))
    }

    // ---- family 4: gitattributes rules — random fnmatch patterns
    // (the PatternTranslatorPropSpec atom pool) × random actions,
    // last-match-wins order randomized by construction.
    val gaAtoms = Seq("a", "b", "c", ".", "/", "*", "?", "**", "f1", ".rs",
      "(", ")", "+", "$", "{", "|")
    def gaPat(): String =
      (1 to (1 + rng.nextInt(4))).map(_ => gaAtoms(rng.nextInt(gaAtoms.length)))
        .mkString
    for (i <- 0 until 4) {
      val actions: Seq[GitattributesOps.Action] = Seq(
        GitattributesOps.Vendored, GitattributesOps.Generated,
        GitattributesOps.Documentation,
        GitattributesOps.LanguageOverride("l" + i))
      val rules = (1 to (1 + rng.nextInt(6))).map(_ =>
        GitattributesOps.Rule(gaPat(), actions(rng.nextInt(actions.length))))
      dump(s"prop_gitattr_overrides_$i",
        GitattributesOps.gitattrOverridesOf(
          TrackedFilesQueries.tracked(spark, sfDir), rules),
        GitattributesOps.oracleSqlFor(rules))
    }

    // ---- family 5: the dedup minhash coefficient/band SQL — random
    // (bands, rowsPerBand, jaccardThreshold); the generated oracle
    // derives its coefficient table, band arithmetic, series bounds,
    // and thresholds from the SAME knobs as the Spark side.
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    for ((bands, i) <- Seq(4, 8, 16).zipWithIndex) {
      val rows = 2 + rng.nextInt(3)
      val jt = Seq(0.5, 0.6, 0.7)(rng.nextInt(3))
      dump(s"prop_dedup_minhash_$i",
        Dedup.dedupMinhashOracleOf(docs, bands, rows, jt),
        SparkEntry.dedupMinhashOracleSqlFor(bands, rows, jt))
    }

    // ---- family 6: the W-capped candidate policy (round 12) — random
    // (bands, rowsPerBand, threshold, W): the rank-window join is the
    // new generated arm; tight windows make the cap BIND so the
    // comparison certifies the window arithmetic, not the uncapped
    // fallthrough.
    for ((bands, i) <- Seq(6, 12, 16).zipWithIndex) {
      val rows = 2 + rng.nextInt(3)
      val jt = Seq(0.5, 0.6, 0.7)(rng.nextInt(3))
      val w = 1 + rng.nextInt(4)
      // round-13 axis: random pass count — the multi-pass per-pass
      // coefficient tables, disjoint global band ids, and max-over-
      // passes estimate all regenerate on BOTH sides
      val np = 1 + rng.nextInt(3)
      dump(s"prop_dedup_minhash_capped_$i",
        Dedup.dedupMinhashCappedOracleOf(docs, bands, rows, jt,
          window = w, passes = np),
        SparkEntry.dedupMinhashCappedOracleSqlFor(bands, rows, jt,
          window = w, passes = np))
    }

    // ---- family 7: folder_scan — the largest gate cascade (round-11
    // board #5, the remaining generated family asserted-not-tested):
    // random entry sets, random Gate-0 ignore-rule sets (compiled by
    // the same IgnoreRules compiler on both sides), random mtime
    // baseline and size cap. Name pool sticks to extensions whose
    // classification is a pure extension-table lookup (no json context
    // routing, no compound suffixes, no config dotfile names) — those
    // axes belong to file_classify's own oracle.
    val fsRoots = Seq("/w/proj-a", "/w/proj-b", "/home/u/.config/app")
    val fsNamePool = Seq(
      "main.rs", "lib.rs", "util.py", "notes.md", "readme.txt", "svc.go",
      "app.log", "x.tmp", "data.dat", "README", ".env", ".hidden.rs",
      "f1.rs", "f2.md", "old.py", "build.log", "core.txt", "deep.go")
    val fsDirPool = Seq("vendor", "src", "docs", "node_modules", "target",
      ".github", ".cache", "secret", "submod", "tests")
    // no negation lines: Gate-0's fold treats every rule as positive
    // (the fixture set has none), so a `!` rule would pin an
    // unspecified semantics rather than test a real arm
    val fsIgnorePool = Seq("secret/", "*.log", "*.tmp", "node_modules/",
      "f?.rs", "[abc]*", "docs/", "*.md", "build*", "co[a-r]e.txt",
      "/vendor")
    for (i <- 0 until 3) {
      val ignores = rng.shuffle(fsIgnorePool).take(2 + rng.nextInt(4))
      val baseline = Seq(6.0, 24.0, 48.0)(rng.nextInt(3))
      val cap = Seq(512L, 4096L, 1024L * 1024, 100L * 1024 * 1024)(rng.nextInt(4))
      val entries = (0 until 18).map { _ =>
        val root = fsRoots(rng.nextInt(fsRoots.length))
        if (rng.nextDouble() < 0.35) {
          val d = fsDirPool(rng.nextInt(fsDirPool.length))
          (root, d, true, rng.nextDouble() < 0.2, rng.nextDouble() < 0.1,
            1.0, 0L)
        } else {
          val n = fsNamePool(rng.nextInt(fsNamePool.length))
          (root, n, false, false, rng.nextDouble() < 0.1,
            Seq(0.5, 2.0, 30.0, 72.0)(rng.nextInt(4)),
            Seq(10L, 600L, 8192L, 3L * 1024 * 1024, 200L * 1024 * 1024)(rng.nextInt(5)))
        }
        // one entry per (root, name): a directory listing cannot repeat
        // a name, and the classifier join-back is keyed on the path
      }.groupBy(e => (e._1, e._2)).map(_._2.head).toSeq.sortBy(e => (e._1, e._2))
      val entriesDf = {
        import spark.implicits._
        entries.toDF("root", "name", "is_dir", "has_git", "is_symlink",
          "mtime_age_hours", "size_bytes")
      }
      dump(s"prop_folder_scan_$i",
        FolderScanOps.folderScanOf(entriesDf, baseline, cap, ignores),
        SparkEntry.folderScanOracleFor(entries, ignores, baseline, cap))
    }

    // ---- family 8: the simhash-LSH position-table SQL (round 13) —
    // random (tables, bitsPerTable, maxHamming) incl. the wide-key
    // w=20/t=64 decade-3 point: the seeded position table, per-table
    // sampled-bit key arithmetic, and hamming verify all regenerate
    // from the SAME knobs on both sides (Dedup.simhashLshPositions is
    // the shared source), so §6's "any (tables, bits) choice" claim is
    // measured. Config 0 pins the wide key exactly; configs 1-2 draw
    // from ranges bracketing the default 24×16.
    for (i <- 0 until 3) {
      val (tables, bits) =
        if (i == 0) (64, 20)
        else (4 + rng.nextInt(32), 6 + rng.nextInt(14))
      val mh = Seq(3, 5, 7)(rng.nextInt(3))
      dump(s"prop_dedup_simhash_lsh_$i",
        Dedup.dedupSimhashLshOf(docs, maxHamming = mh,
          tables = tables, bitsPerTable = bits),
        SparkEntry.dedupSimhashLshSqlFor(tables, bits, mh))
    }


    // ---- family 9: the virtual-elaborates concept predicate (round
    // 14) — random concept subsets × random salt-bucket counts. The
    // generated twin is the FULL enumeration filtered to the same
    // subset, so the property certifies BOTH halves of the virtual
    // form: the level-axis closure reaches exactly the ord< pairs, and
    // the salt replication is output-invisible at ANY bucket count
    // (salts=1 degenerates to the unsalted join; large salts stress
    // the explode/dedupe-free path).
    for (i <- 0 until 3) {
      val n = 1 + rng.nextInt(4)
      val concepts = rng.shuffle((0 until 60).toList).take(n)
        .map(c => s"concept-$c")
      val salts = 1 + rng.nextInt(64)
      dump(s"prop_elaborates_virtual_$i",
        graft.operators.Elaborates.docElaboratesVirtualFor(
          spark, sfDir, concepts, salts),
        SparkEntry.elaboratesVirtualOracleSqlFor(concepts))
    }

    // ---- family 10: modularityOf's arithmetic (round 15, board #5) —
    // random small weighted graphs × random partial memberships. The
    // hashed columns are the EXACT RATIONAL (q_num, q_den) = the
    // summation-order-immune form of Q (the round-14 advice class
    // designed out up front: no double crosses the engine boundary);
    // DuckDB re-derives both integers from the embedded graph, and
    // cert = true pins that Spark's REAL modularityOf double pipeline
    // matched the rational within 1e-12. Left-out nodes exercise the
    // singleton-default membership arm on both engines.
    for (i <- 0 until 3) {
      val n = 6 + rng.nextInt(10)
      val edges0 = for {
        a <- 0 until n
        b <- a + 1 until n
        if rng.nextDouble() < 0.45
      } yield (s"n$a", s"n$b", 1L + rng.nextInt(9))
      val edges = if (edges0.isEmpty) Seq(("n0", "n1", 1L)) else edges0
      val nComm = 2 + rng.nextInt(4)
      val memb0 = (0 until n).flatMap { a =>
        if (rng.nextDouble() < 0.85) Some(s"n$a" -> s"c${rng.nextInt(nComm)}")
        else None // exercised: nodes defaulting to singleton communities
      }
      val memb = if (memb0.isEmpty) Seq("n0" -> "c0") else memb0
      dump(s"prop_modularity_$i",
        Leiden.modularityRationalCertOf(spark, edges, memb),
        Leiden.modularityRationalOracleFor(edges, memb))
    }

    Verify.writeOracleJson(outDir, oracles.toMap)
    spark.stop()
  }
}
