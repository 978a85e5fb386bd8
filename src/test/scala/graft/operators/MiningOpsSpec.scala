package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class MiningOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bitextMine: at most one partner per anchor, sides respected, margin above threshold") {
    val out = MiningOps.bitextMine(spark, sf).collect()
    assert(out.nonEmpty)
    val anchors = out.map(_.getAs[Long]("a_id"))
    assert(anchors.distinct.length === anchors.length) // rank-1 election
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(labels(r.getAs[Long]("a_id")) % 2 === 0)
      assert(labels(r.getAs[Long]("b_id")) % 2 === 1)
      assert(r.getAs[Long]("margin_u4") >= MiningOps.bitextTauU4)
      assert(r.getAs[Long]("cos_u4") <= 10000L)
    }
  }

  test("bitextMine: margin recomputes from the candidate relation (exact integer rational)") {
    // recompute one anchor's margin by hand from the same capped candidate
    // set and check the elected row agrees
    val out = MiningOps.bitextMine(spark, sf).collect()
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cosU4(x: Array[Float], y: Array[Float]): Option[Long] = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
      }
      val c = d / (math.sqrt(nx) * math.sqrt(ny))
      if (c.isNaN) None else Some(math.floor(c * 1e4 + 0.5).toLong)
    }
    def bucket(v: Array[Float]): Long =
      (0 until 4).map { j =>
        var s = 0.0
        for (i <- v.indices) s += v(i).toDouble * (((i + 1) * (2 * j + 3)) % 101 - 50)
        if (s > 0) 1L << j else 0L
      }.sum
    val byBucket = emb.groupBy(e => bucket(e._3))
    val capped = byBucket.filter(_._2.length <= 500).values.flatten.toSeq
    val aSide = capped.filter(_._2 % 2 == 0)
    val bSide = capped.filter(_._2 % 2 == 1)
    val bBuckets = bSide.groupBy(e => bucket(e._3))
    // candidate cosines for the first elected anchor
    val first = out.minBy(_.getAs[Long]("a_id"))
    val aVec = aSide.find(_._1 == first.getAs[Long]("a_id")).get
    val cands = bBuckets.getOrElse(bucket(aVec._3), Seq.empty)
      .flatMap(b => cosU4(aVec._3, b._3).map(c => (b._1, c)))
      .toSeq.sortBy(p => (-p._2, p._1)).take(MiningOps.bitextK)
    assert(cands.map(_._1).contains(first.getAs[Long]("b_id")))
  }

  test("postingLists: gaps decode back to exact doc ids; df sums block counts") {
    val out = MiningOps.postingLists(spark, sf).collect()
    assert(out.nonEmpty)
    val tf = Tables.documents(spark, sf)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val blockSize = MiningOps.postingBlock
    var decoded = 0
    out.foreach { r =>
      val term = r.getAs[String]("term")
      val blk = r.getAs[Long]("blk")
      val posts = r.getAs[String]("postings").split(" ")
      assert(posts.length === r.getAs[Long]("n_docs"))
      assert(posts.length <= blockSize)
      var prev = blk * blockSize
      var sumTf = 0L
      posts.foreach { p =>
        val Array(gap, t) = p.split(":").map(_.toLong)
        val docId = prev + gap
        assert(docId / blockSize === blk) // posting stays in its block
        assert(tf((term, docId)) === t)   // tf matches the raw count
        prev = docId; sumTf += t; decoded += 1
      }
      assert(sumTf === r.getAs[Long]("sum_tf"))
    }
    assert(decoded === tf.size) // every (term, doc) posting appears once
    // global df = sum of block dfs, constant across a term's blocks
    out.groupBy(_.getAs[String]("term")).foreach { case (_, rs) =>
      val dfs = rs.map(_.getAs[Long]("df")).distinct
      assert(dfs.length === 1)
      assert(dfs.head === rs.map(_.getAs[Long]("n_docs")).sum)
    }
  }

  test("textRankKeywords: filtered vocabulary, descending ranks, bounded cut") {
    val out = MiningOps.textRankKeywords(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty && out.length <= 25)
    out.foreach { r =>
      assert(r.getAs[String]("word").matches("^[a-z]{4,}$"))
      assert(r.getAs[Long]("degree") >= 1L)
      assert(r.getAs[Long]("rank_ppm") > 0L)
    }
    val ranks = out.map(_.getAs[Long]("rank_ppm")).toSeq
    assert(ranks === ranks.sorted.reverse, "cut must be rank-descending")
  }

  test("textRankKeywords: a hub-and-chain word graph ranks exactly, ties by word, cut at topK") {
    // word graph: center–{north, south, east} (a hub with three leaves)
    // and the chain alpha–bravo–charlie–delta; "the" and "west" are
    // filtered (short word), and a reversed duplicate adjacency is one edge
    val tmp = java.nio.file.Files.createTempDirectory("graft-textrank").toString
    Seq((0L, "center north"), (1L, "Center south"), (2L, "center east"),
        (3L, "north center"), (4L, "center the west"),
        (5L, "alpha bravo charlie delta"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def ranked(k: Int) = MiningOps.textRankKeywords(spark, tmp, topK = k).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("degree"), r.getAs[Long]("rank_ppm")))
      .toSeq
    // five rounds of r' = 150000 + (85 * Σ r(n) div deg(n)) div 100 from
    // 10^6, replayed by hand
    assert(ranked(3) === Seq(("center", 3L, 2326646L), ("bravo", 2L, 1302379L),
      ("charlie", 2L, 1302379L)))
    assert(ranked(100).map(_._1) === Seq("center", "bravo", "charlie", "alpha",
      "delta", "east", "north", "south"))
    graft.CacheGuard.release()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("phraseSearch: postings join replays a driver-side adjacent-pair scan exactly") {
    val out = MiningOps.phraseSearch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_matches"), r.getAs[Long]("first_pos")))).toMap
    // driver replay: tokenize every doc, count adjacent ("fast","merge")
    val want = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().flatMap { r =>
        val tk = Option(r.getAs[String]("text")).getOrElse("")
          .toLowerCase.split("\\s+").filter(_.nonEmpty)
        val hits = tk.indices.dropRight(1)
          .filter(i => tk(i) == "fast" && tk(i + 1) == "merge")
        if (hits.isEmpty) None
        else Some(r.getAs[Long]("doc_id") ->
          ((hits.length.toLong, hits.head.toLong)))
      }.toMap
    assert(out === want)
    assert(out.nonEmpty, "probe phrase must occur in the corpus")
  }

  private def tokens(c: org.apache.spark.sql.Column) =
    graft.functions.TextFunctions.tokens(c)

  test("domainCentroidDrift: exact BigInt replay of integer centroids and the signed ppm") {
    val sparkS = spark
    import sparkS.implicits._
    val out = MiningOps.domainCentroidDrift(spark, sf).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("cos2_ppm_signed"))).toMap
    graft.CacheGuard.release()
    val rows = graft.Tables.embeddings(spark, sf)
      .select($"label", $"embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1000 + 0.5).toLong))
    assert(out.keySet === rows.map(_._1).toSet)
    val dims = rows.head._2.length
    def centroid(vs: Seq[Seq[Long]]): Seq[Long] = (0 until dims).map { i =>
      math.floor(vs.map(_(i)).sum.toDouble / vs.size + 0.5).toLong
    }
    val g = centroid(rows.map(_._2).toSeq)
    rows.groupBy(_._1).foreach { case (label, vs) =>
      val c = centroid(vs.map(_._2).toSeq)
      val dot = c.zip(g).map { case (a, b) => a * b }.sum
      val na = c.map(x => x * x).sum
      val nb = g.map(x => x * x).sum
      val ppm = (BigInt(dot) * dot * 1000000) / (BigInt(na) * nb).max(1)
      val signed = (if (dot < 0) -1 else 1) * ppm.toLong
      assert(out(label) === ((vs.size.toLong, signed)), s"label $label")
    }
    // most domains align with the global mean far more than a random
    // direction would (1/dims ≈ 15625 ppm)
    assert(out.values.count(_._2 > 1000000 / dims) > out.size / 2)
  }
}
