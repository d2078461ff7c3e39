package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.TextFunctions

class SparseSearchSpec extends SparkSpec {
  import spark.implicits._

  test("tokenizeSimple matches reference nlp.rs semantics") {
    val df = Seq("Hello World, this is a test!",
      "fn process_file(path: &str) -> Result<()>").toDF("text")
    val toks = df.select(TextFunctions.tokenizeSimple(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(toks(0).contains("hello") && toks(0).contains("world") && toks(0).contains("test"))
    assert(!toks(0).exists(Set("this", "is", "a").contains))
    assert(toks(1).contains("fn") && toks(1).contains("process_file") && toks(1).contains("result"))
  }

  test("tokenizeBm25 filters junk tokens like the reference") {
    val df = Seq("deadbeefcafe1234 v2.13 some/path 0xff 12345 real_token Word").toDF("text")
    val toks = df.select(TextFunctions.tokenizeBm25(col("text")).as("t"))
      .collect().head.getSeq[String](0)
    assert(toks.contains("real_token") && toks.contains("word"))
    // hex hash, version string, path, hex literal, pure digits → junk
    assert(!toks.exists(t => t.contains("deadbeef") || t == "v2.13" ||
      t.contains("/") || t.startsWith("0x") || t.forall(_.isDigit)))
  }

  test("tokenizeBm25Query tokenizes like the column: a lone emoji is one code point") {
    // 🙂 is two UTF-16 units but one code point, so length > 1 drops it
    assert(SparseSearch.tokenizeBm25Query("🙂") == Nil)
    val q = "🙂 a🙂 Straße ΣΟΦΙΑ İstanbul DEADBEEF v1.2 a/b -dup_ 0x1f 123 Vector"
    val viaColumn = Seq(q).toDF("text").select(TextFunctions.tokenizeBm25(col("text")))
      .head().getSeq[String](0)
    assert(SparseSearch.tokenizeBm25Query(q) == viaColumn)
    assert(viaColumn.contains("a🙂") && viaColumn.contains("dup") && !viaColumn.contains("🙂"))
  }

  test("bm25_topk returns ranked docs containing query terms") {
    val res = SparseSearch.bm25TopK(spark, sfDir).collect()
    assert(res.nonEmpty && res.length <= 10)
    assert(res.map(_.getInt(1)).toSeq == (1 to res.length))
    val topDoc = res.head.getLong(0)
    val text = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === topDoc).select("text").collect().head.getString(0)
    assert(Seq("dup", "vector", "window", "fast").exists(text.toLowerCase.contains))
  }

  test("hybrid_rrf fuses dense and sparse rankings per the reference formula") {
    val dense = VectorSearch.denseTopK(spark, sfDir, k = 40)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sparse = SparseSearch.bm25TopK(spark, sfDir, k = 40)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = (dense.keySet ++ sparse.keySet).toSeq
      .map { id =>
        val s = dense.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          sparse.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
        (id, s)
      }
      .sortBy { case (id, s) => (-s, id) }
      .take(20).map(_._1)
    val got = SparseSearch.hybridRrf(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("grep_search counts regex matches per document") {
    val res = SparseSearch.grepSearch(spark, sfDir).collect()
    assert(res.nonEmpty)
    val sample = res.take(5).map(r => r.getLong(0) -> r.getInt(1)).toMap
    val texts = Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(sample.keys.toSeq: _*))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    sample.foreach { case (id, n) =>
      assert("quer(y|ies)".r.findAllIn(texts(id)).size == n, s"doc $id")
    }
  }

  test("diversity_rerank is deterministic and penalizes consecutive same-source runs") {
    val a = SparseSearch.diversityRerank(spark, sfDir).collect()
    val b = SparseSearch.diversityRerank(spark, sfDir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 20)
    assert(a.map(_.getInt(2)).toSeq == (1 to 20))
  }

  test("keyword_tfidf yields one keyword per doc") {
    val res = SparseSearch.keywordTfidf(spark, sfDir).collect()
    assert(res.nonEmpty)
    assert(res.map(_.getLong(0)).distinct.length == res.length)
    res.foreach(r => assert(r.getString(1).nonEmpty))
  }

  test("sparse_vectors norms are positive with nnz > 0") {
    val res = SparseSearch.sparseVectors(spark, sfDir).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) > 0.0)
    }
  }
}
