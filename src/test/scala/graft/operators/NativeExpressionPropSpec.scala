package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}

import graft.{GraftFunctions, SparkSpec}
import graft.functions.TextFunctions

/** Property-style randomized equivalence for the native expressions:
  * each must match the composed-column formulation it replaced on
  * generated adversarial inputs (multibyte text, duplicate tokens,
  * boundary lengths), not just the corpus. Seeded generators keep the
  * suite deterministic.
  */
class NativeExpressionPropSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20260814)

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("graft_shingle_hashes equals the composed column on random unicode text") {
    val charGen = Gen.frequency(
      (6, Gen.alphaNumChar),
      (2, Gen.oneOf(' ', '\t', 'ß', 'é', 'α', 'β', '中', '文')),
      (1, Gen.oneOf('é', 'α', '中')))
    val textGen = for {
      len <- Gen.chooseNum(0, 40)
      cs <- Gen.listOfN(len, charGen)
    } yield cs.mkString
    // the emoji strings cover 4-byte UTF-8 (surrogate pairs)
    val texts = sample(textGen, 300) ++
      Seq("", "a", "ab", "abc", "ααα", "中文字", "aaaaaa", "a🙂b", "🙂😃xy")
    val composed = expr(
      "array_sort(array_distinct(transform(sequence(1, greatest(length(text) - 2, 1)), i -> xxhash64(substr(text, i, 3)))))")
    val bad = texts.toDF("text")
      .select(col("text"), GraftFunctions.shingleHashes(col("text")).as("e"), composed.as("c"))
      .filter(not(col("e") <=> col("c")))
      .collect()
    assert(bad.isEmpty, s"first: ${bad.headOption}")
  }

  test("graft_md5_shingle_hashes equals the composed column on random unicode text") {
    val charGen = Gen.frequency(
      (6, Gen.alphaNumChar),
      (2, Gen.oneOf(' ', '\t', 'ß', 'é', 'α', 'β', '中', '文')),
      (1, Gen.oneOf('é', 'α', '中')))
    val textGen = for {
      len <- Gen.chooseNum(0, 40)
      cs <- Gen.listOfN(len, charGen)
    } yield cs.mkString
    val texts = sample(textGen, 300) ++
      Seq("", "a", "ab", "abc", "ααα", "中文字", "aaaaaa", "a🙂b", "🙂😃xy")
    val composed = expr(
      "array_sort(array_distinct(transform(sequence(1, greatest(length(text) - 2, 1)), " +
        "i -> CAST(conv(substr(md5(substr(text, i, 3)), 1, 15), 16, 10) AS BIGINT))))")
    val bad = texts.toDF("text")
      .select(col("text"), GraftFunctions.md5ShingleHashes(col("text")).as("e"), composed.as("c"))
      .filter(not(col("e") <=> col("c")))
      .collect()
    assert(bad.isEmpty, s"first: ${bad.headOption}")
  }

  test("graft_md5_hashes equals the composed transform on random token arrays") {
    val tokGen = Gen.frequency(
      (5, Gen.identifier.map(_.take(8))),
      (2, Gen.oneOf("α", "中文", "x", "", "the")),
      (1, Gen.const("dup")))
    val docGen = for {
      n <- Gen.chooseNum(0, 30)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts
    val docs = sample(docGen, 200).zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
    val composed = expr(
      "transform(toks, t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))")
    val bad = docs.toDF("doc_id", "toks")
      .select(col("doc_id"), GraftFunctions.md5Hashes(col("toks")).as("e"), composed.as("c"))
      .filter(not(col("e") <=> col("c")))
      .collect()
    assert(bad.isEmpty, s"first: ${bad.headOption}")
  }

  test("graft_simhash64 equals the aggregation form on random token arrays") {
    val tokGen = Gen.frequency(
      (5, Gen.identifier.map(_.take(8))),
      (2, Gen.oneOf("α", "中文", "x", "", "the")),
      (1, Gen.const("dup")))
    val docGen = for {
      n <- Gen.chooseNum(1, 30)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts
    val docs = sample(docGen, 200).zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
    val df = docs.toDF("doc_id", "toks")
    val viaExpr = df.select(col("doc_id"), GraftFunctions.simhash64(col("toks")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bitCols = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
    }
    val viaAgg = df.select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col("doc_id"))
      .agg(bitCols.head.as("b0"),
        bitCols.tail.zipWithIndex.map { case (c, i) => c.as(s"b${i + 1}") }: _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"b$j") > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << j)).reduce(_ + _).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaAgg)
  }

  test("minhash signature expression equals per-position array_min on random sets") {
    val shGen = for {
      n <- Gen.chooseNum(1, 60)
      hs <- Gen.listOfN(n, Arbitrary.arbitrary[Long])
    } yield hs.distinct.sorted
    val rows = sample(shGen, 200).zipWithIndex.map { case (sh, i) => (i.toLong, sh) }
    val df = rows.toDF("id", "sh")
    val p = 2147483647L
    val coeffs = Array.fill(12)((math.abs(rng.nextLong()) % (p - 1L) + 1L,
      math.abs(rng.nextLong()) % p))
    val composedCols = coeffs.toSeq.map { case (a, b) =>
      array_min(transform(col("sh"), h => pmod(pmod(h, lit(p)) * a + b, lit(p))))
    }
    val e = df.select(col("id"), GraftFunctions.minhashSignature(col("sh"),
      coeffs.map(_._1), coeffs.map(_._2)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c = df.select(col("id"), array(composedCols: _*).cast("array<int>").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(e == c)
  }

  test("minhash band buckets equal the composed per-band murmur3 unroll on random signatures") {
    // The constant-code-size banding expression (round 13 — the
    // composed unroll crossed HotSpot's 8KB JIT limit at scale-knob
    // band counts) must stay bit-identical to hash(sig(i).cast(long)…)
    // per band, across random (bands, rowsPerBand) shapes.
    for ((bands, rpb) <- Seq((12, 3), (24, 3), (5, 2), (16, 4), (1, 1))) {
      val sigGen = Gen.listOfN(bands * rpb, Arbitrary.arbitrary[Int])
      val rows = sample(sigGen, 120).zipWithIndex.map { case (sig, i) => (i.toLong, sig) }
      val df = rows.toDF("id", "sig")
      val composed = array((0 until bands).map { b =>
        hash((0 until rpb).map(r => col("sig")(b * rpb + r).cast("long")): _*)
      }: _*)
      val bad = df
        .withColumn("n", GraftFunctions.minhashBandBuckets(col("sig"), bands, rpb))
        .withColumn("c", composed)
        .filter(col("n") =!= col("c"))
        .collect()
      assert(bad.isEmpty, s"bands=$bands rpb=$rpb first: ${bad.headOption}")
    }
  }

  test("simhash LSH keys equal the composed shift/mask unroll on random simhashes") {
    // The constant-code-size key expression (round 15 — the unrolled
    // form generated a 57,701 B method at the DEFAULT 24×16, 7× over
    // HotSpot's silent 8KB JIT limit) must stay bit-identical to
    // Σ_i shiftleft(shiftright(sh, pos(t)(i)) & 1, i) per table,
    // across random position tables and knob shapes.
    for ((tables, bits) <- Seq((24, 16), (64, 20), (3, 1), (1, 60), (7, 5))) {
      val positions = {
        val r = new scala.util.Random(tables * 100 + bits)
        Array.fill(tables)(r.shuffle((0 until 60).toList).take(bits).sorted.toArray)
      }
      val rows = sample(Arbitrary.arbitrary[Long], 150)
        .zipWithIndex.map { case (sh, i) => (i.toLong, sh) }
      val df = rows.toDF("id", "sh")
      val composed = array(positions.map { pos =>
        pos.zipWithIndex.map { case (p, i) =>
          shiftleft(shiftright(col("sh"), p).bitwiseAND(lit(1L)), i)
        }.reduce(_ + _)
      }.toSeq: _*)
      val bad = df
        .withColumn("n", GraftFunctions.simhashLshKeys(col("sh"), positions))
        .withColumn("c", composed)
        .filter(col("n") =!= col("c"))
        .collect()
      assert(bad.isEmpty, s"tables=$tables bits=$bits first: ${bad.headOption}")
    }
  }

  test("sorted intersect count equals size(array_intersect) on random sorted sets") {
    val setGen = for {
      n <- Gen.chooseNum(0, 50)
      vs <- Gen.listOfN(n, Gen.chooseNum(-100L, 100L))
    } yield vs.distinct.sorted
    val rows = sample(setGen.flatMap(a => setGen.map(b => (a, b))), 300)
      .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
    val bad = rows.toDF("id", "a", "b")
      .withColumn("m", GraftFunctions.sortedIntersectCount(col("a"), col("b")))
      .withColumn("bi", size(array_intersect(col("a"), col("b"))).cast("long"))
      .filter(col("m") =!= col("bi"))
      .collect()
    assert(bad.isEmpty, s"first: ${bad.headOption}")
  }

  test("int array match count equals size(filter(zip_with)) on random int arrays") {
    val arrGen = for {
      n <- Gen.chooseNum(0, 40)
      vs <- Gen.listOfN(n, Gen.chooseNum(0, 5))
    } yield vs
    // same-length pairs (the operator contract) plus shared prefixes
    val rows = sample(arrGen, 200).zipWithIndex.map { case (a, i) =>
      val b = a.map(v => if (rng.nextBoolean()) v else rng.nextInt(6))
      (i.toLong, a, b)
    }
    val bad = rows.toDF("id", "a", "b")
      .withColumn("e", GraftFunctions.intArrayMatchCount(col("a"), col("b")))
      .withColumn("c", size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), m => m)))
      .filter(col("e") =!= col("c"))
      .collect()
    assert(bad.isEmpty, s"first: ${bad.headOption}")
  }

  test("graft_bm25_term_counts equals explode(tokenizeBm25) counts on random unicode text") {
    val pieceGen = Gen.frequency(
      (6, Gen.identifier.map(_.take(7))),
      (3, Gen.oneOf(" ", "  ", "\t", "\n", ", ", ". ", ";", "(", ")", "\"", "|", "\\")),
      (2, Gen.oneOf("-dup_", "/vector/", "__x", "--", "_-/", "a-b", "a_b", "x/", "/y")),
      // non-ASCII upper case and letters whose lower case differs by locale
      (2, Gen.oneOf("ÉCOLE", "Straße", "ΣΟΦΙΑ", "Żółw", "İSTANBUL", "ẞ", "Ωmega", "ЖУК", "ﬁle")),
      // surrogate pairs: a lone emoji is one code point, two UTF-16 units
      (1, Gen.oneOf("🙂", "😃x", "a🙂", "🙂🙂", "𝔘𝔫𝔦")),
      // junk tokens: hex ≥ 8, versions, paths, hex literals, digits
      (2, Gen.oneOf("deadbeef", "DEADBEEF12", "v1.2", "1.2.3", "a/b", "a\\b", "0x1f", "0X1F",
        "123", "12a", "cafe")))
    val textGen = for {
      n <- Gen.chooseNum(0, 30)
      ps <- Gen.listOfN(n, pieceGen)
    } yield ps.mkString
    val texts: Seq[Option[String]] = sample(textGen, 300).map(Some(_)) ++
      Seq(None, Some(""), Some("🙂"), Some("a🙂 dup dup DUP"), Some("-_/"))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val exploded = df.select(col("id"), explode(TextFunctions.tokenizeBm25(col("text"))).as("t"))
    // every token the column emits, plus terms it never emits: a lone
    // emoji, upper case and junk expansion terms
    val tokens = exploded.select("t").distinct().collect().map(_.getString(0)).toSeq.sorted
    val terms = (tokens ++ Seq("🙂", "a🙂", "Dup", "123", "v1.2", "a/b", "0x1f", "deadbeef")).distinct
    val expected = exploded.filter(col("t").isin(terms: _*))
      .groupBy("id", "t").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2).toInt).toMap
    val columnTokens = df.filter(col("text").isNotNull)
      .select(col("id"), TextFunctions.tokenizeBm25(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val got = df.select(col("id"), col("text"),
        GraftFunctions.bm25TermCounts(col("text"), terms).as("c"))
      .collect()
    assert(got.length == texts.length)
    got.foreach { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) assert(r.isNullAt(2), s"NULL text must give NULL counts, id $id")
      else {
        // the driver-side tokenizer is the same scalar code
        assert(SparseSearch.tokenizeBm25Query(r.getString(1)) == columnTokens(id), s"id $id")
        val counts = r.getSeq[Int](2)
        val want = terms.map(t => expected.getOrElse((id, t), 0))
        assert(counts == want, s"id $id text '${r.getString(1)}' terms $terms")
      }
    }
    assert(tokens.contains("a🙂") && !tokens.contains("🙂"))
  }

  /** recommend's query vector before the kernel: posexplode → per-position
    * avg → re-packed array. */
  private def recommendVectorComposed(emb: org.apache.spark.sql.DataFrame,
                                      positive: Seq[Long], negative: Seq[Long]) =
    emb.filter(col("vec_id").isin(positive ++ negative: _*))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
      .groupBy(col("pos"))
      .agg((coalesce(avg(when(col("vec_id").isin(positive: _*), col("v"))), lit(0.0)) -
            coalesce(avg(when(col("vec_id").isin(negative: _*), col("v"))), lit(0.0))).as("qv"))
      .agg(array_sort(collect_list(struct(col("pos"), col("qv")))).as("pairs"))
      .select(transform(col("pairs"), p => p.getField("qv")).as("q_emb"))

  /** semantic_rerank's mean vector before the kernel. */
  private def weightedMeanComposed(ctx: org.apache.spark.sql.DataFrame) =
    ctx.select(col("weight").cast("double").as("w"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
      .groupBy(col("pos"))
      .agg(when(sum(col("w")) > 1e-10, sum(col("v") * col("w")) / sum(col("w"))).as("qv"))
      .filter(col("qv").isNotNull)
      .agg(array_sort(collect_list(struct(col("pos"), col("qv")))).as("pairs"))
      .select(transform(col("pairs"), p => p.getField("qv")).as("q_emb"))
      .filter(size(col("q_emb")) > 0)

  /** Both one-row query frames are equal under `<=>` (or both empty). */
  private def assertSameVector(kernel: org.apache.spark.sql.DataFrame,
                               composed: org.apache.spark.sql.DataFrame, clue: String): Unit = {
    val k = kernel.select(col("q_emb").as("k"))
    val c = composed.select(col("q_emb").as("c"))
    assert(k.count() == c.count(), clue)
    val same = k.crossJoin(c).select(col("k") <=> col("c")).collect().map(_.getBoolean(0))
    assert(same.forall(identity), s"$clue: ${k.collect().toSeq} vs ${c.collect().toSeq}")
  }

  /** One input partition: both forms then sum the rows in scan order. */
  private def onePartition(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq, 1), df.schema)

  test("recommend's query vector equals the posexplode form under <=>") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f))
    for (trial <- 0 until 2) {
      val emb = onePartition(sample(vecGen, 12).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"))
      // ids ≥ 100 are absent from the table
      for ((case_, pos, neg) <- Seq(
          ("both", Seq(1L, 2L, 3L), Seq(4L, 5L)),
          ("positives only", Seq(1L, 7L, 11L), Seq(100L)),
          ("negatives only", Seq(100L, 101L), Seq(0L, 9L)),
          ("neither", Seq(100L), Seq(101L)))) {
        assertSameVector(VectorSearch.recommendVector(emb, pos, neg),
          recommendVectorComposed(emb, pos, neg), s"trial $trial, $case_")
      }
    }
  }

  test("semantic_rerank's mean vector equals the posexplode form under <=>") {
    val rowGen = for {
      v <- Gen.listOfN(6, Gen.chooseNum(-1.0f, 1.0f))
      w <- Gen.oneOf(Gen.chooseNum(0.0, 5.0), Gen.oneOf(1.0, 2.0, 3.0))
    } yield (v, w)
    val cases = (0 until 6).map(i => s"random $i" -> sample(rowGen, 1 + i * 2)) ++ Seq(
      "all-zero weights" -> sample(rowGen, 4).map { case (v, _) => (v, 0.0) },
      "tiny weights" -> sample(rowGen, 3).map { case (v, _) => (v, 1e-12) },
      "empty" -> Seq.empty[(List[Float], Double)])
    for ((name, rows) <- cases) {
      val ctx = onePartition(rows.toDF("embedding", "weight"))
      assertSameVector(SemanticRerank.weightedMeanVector(ctx), weightedMeanComposed(ctx), name)
    }
  }

  test("MmrSelect equals the column fold on random candidate/sim inputs") {
    val termGen = Gen.oneOf("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8")
    val candsGen = for {
      n <- Gen.chooseNum(0, 8)
      terms <- Gen.pick(n, Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8"))
      rels <- Gen.listOfN(n, Gen.chooseNum(-1.0, 1.0))
    } yield terms.toSeq.zip(rels).zipWithIndex.map { case ((t, r), i) => Cand(i + 1, t, r) }
    val simGen = for {
      a <- termGen; b <- termGen if a < b
      s <- Gen.chooseNum(0.0, 1.2)
    } yield SimP(a, b, s)
    val docGen = for {
      cs <- candsGen
      ns <- Gen.chooseNum(0, 10)
      ss <- Gen.listOfN(ns, simGen)
    } yield (cs, ss.distinctBy(p => (p.ta, p.tb)))
    val docs = sample(docGen, 250).zipWithIndex
      .map { case ((cs, ss), i) => DocIn(i.toLong, cs, ss) }
    val df = docs.toDS.toDF.localCheckpoint()
    val viaExpr = df.select(col("doc_id"),
      GraftFunctions.mmrSelect(col("cands"), col("sims"), 5, 0.7, 0.64).as("tags"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaFold = df.select(col("doc_id"),
      KeywordTags.mmrSelection(5, 0.7, 0.64).as("tags"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaExpr == viaFold,
      s"first diff: ${viaExpr.find { case (k, v) => viaFold.get(k) != Some(v) }}")
  }
}
