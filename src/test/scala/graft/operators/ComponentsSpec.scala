package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions.{col, greatest, least}

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: transitive closure across chains, no direct edge needed") {
    // 0-1-2-3 chain plus isolated pair 10-11: component = min reachable id
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Components.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: converges on a cycle and respects maxIter budget") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val got = Components.connectedComponents(cycle, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet === Set(1L))
  }

  test("connectedComponents: budget exhaustion fails loudly instead of returning split clusters") {
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Components.connectedComponents(chain, maxIter = 3).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents agrees with union-find on random graphs (multi-seed)") {
    for (seed <- Seq(3, 17)) {
      val rng = new scala.util.Random(seed)
      val n = 60
      val edgeList = (1 to 70).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      // reference: plain union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        if (parent(x) != x) parent(x) = find(parent(x)); parent(x)
      }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edgeList.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(v => v -> {
          // component representative = min node id in the component
          val root = find(v.toInt)
          (0 until n).filter(u => find(u) == root).min.toLong
        }).toMap
      // random sparse graphs can have long paths: give the propagation a
      // generous round budget; convergence detection exits early anyway
      val got = Components.connectedComponents(edgeList.toDF("a", "b"), maxIter = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"seed=$seed")
    }
  }

  test("graph operators release every block: O(1) persisted RDDs while read, none after CacheGuard.release") {
    val sc = spark.sparkContext
    graft.CacheGuard.release()
    val before = sc.getPersistentRDDs.keySet
    // a 12-node chain needs multiple propagation rounds
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    Components.connectedComponents(chain, maxIter = 30).count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    // only the RETURNED labels may stay pinned (the caller is still
    // consuming them); every intermediate round + the adjacency must have
    // been unpersisted
    assert(leaked.size <= 1, s"leaked ${leaked.size} persisted RDDs across rounds")
    graft.CacheGuard.release()
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "connectedComponents" -> (() => Components.connectedComponents(chain)),
      "pageRank" -> (() => Components.pageRank(chain)),
      "personalizedPageRank" -> (() => Components.personalizedPageRank(chain)),
      "labelPropagation" -> (() => Components.labelPropagation(chain)),
      "bfsHops" -> (() => Components.bfsHops(chain)),
      "kCore" -> (() => Components.kCore(chain, k = 2)))
    for ((name, op) <- ops) {
      op().collect()
      graft.CacheGuard.release()
      assert(sc.getPersistentRDDs.keySet === before, name)
      assert(graft.CacheGuard.pending === 0, name)
    }
  }

  test("connectedComponents: at most one Spark job per round plus one, and no SQL execution per round") {
    // a 12-node chain 0-1-…-11: diameter 11, so min-label propagation
    // from self-labels needs at most 11 rounds that drop a label plus
    // one that finds the fixpoint
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val rounds = 12
    var comps: org.apache.spark.sql.DataFrame = null
    val (jobs, sqlRuns) =
      jobsAndSql { comps = Components.connectedComponents(chain, maxIter = 30) }
    val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheGuard.release()
    assert(got === (0L to 11L).map(_ -> 0L).toMap)
    assert(jobs <= rounds + 1, s"$jobs jobs for $rounds rounds")
    // at most the edge input's own execution, whatever the round count
    assert(sqlRuns <= 1, s"$sqlRuns SQL executions")
  }

  test("pageRank, PPR, LPA, BFS: Spark jobs grow at most one per round, SQL executions not at all") {
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (n => Components.pageRank(chain, iters = n)),
      "personalizedPageRank" -> (n => Components.personalizedPageRank(chain, iters = n)),
      "labelPropagation" -> (n => Components.labelPropagation(chain, iters = n)),
      "bfsHops" -> (n => Components.bfsHops(chain, rounds = n)))
    for ((name, op) <- ops) {
      val Seq((j2, s2), (j6, s6)) = Seq(2, 6).map { n =>
        val counts = jobsAndSql(op(n).collect())
        graft.CacheGuard.release()
        counts
      }
      assert(j6 - j2 <= 4, s"$name: $j2 jobs at 2 rounds, $j6 at 6")
      assert(s6 === s2, s"$name: $s2 SQL executions at 2 rounds, $s6 at 6")
    }
  }

  test("kCore: at most one Spark job per peel round on a graph that peels in several") {
    // at k = 2 a 12-node path loses its two end nodes per round: six
    // peels, then one round that finds nothing left to peel
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val peels = 6
    val (jobs, _) = jobsAndSql(assert(Components.kCore(path, k = 2).collect().isEmpty))
    graft.CacheGuard.release()
    assert(jobs <= peels + 2, s"$jobs jobs for $peels peel rounds")
  }

  test("dedupClusters: every doc labeled; chain groups of 5 collapse to min-id keeper") {
    val out = Components.dedupClusters(spark, sf).collect()
    val n = graft.Tables.documents(spark, sf).count()
    assert(out.length.toLong === n)
    out.foreach { r =>
      val (id, comp, size) =
        (r.getAs[Long]("doc_id"), r.getAs[Long]("component"), r.getAs[Long]("cluster_size"))
      assert(comp === (id / 5) * 5) // keeper = smallest id in the 5-group
      assert(size >= 1L && size <= 5L)
    }
  }

  test("triangleCensus: hand graph — K4 minus an edge has 2 triangles; closure exact") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and (1,2,4)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val r = Components.triangleCensus(edges).collect().head
    graft.CacheGuard.release()
    assert(r.getAs[Long]("n_edges") === 5L)
    // oriented wedges: center 1: (2,3),(2,4),(3,4); center 2: (3,4) → 4
    assert(r.getAs[Long]("n_wedges") === 4L)
    assert(r.getAs[Long]("n_triangles") === 2L)
    assert(r.getAs[Double]("wedge_closure") === 0.5)
  }

  test("pageRank: path graph 1-2-3, two rounds — integer-exact by hand") {
    import spark.implicits._
    // r0 = 1e6; deg = (1,2,1). Round 1: contribs (1e6, 5e5, 1e6) →
    // r1 = (575000, 1850000, 575000). Round 2: contribs
    // (575000, 925000, 575000) → r2 = (936250, 1127500, 936250).
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Components.pageRank(edges, iters = 2)
      .orderBy("node").collect()
    graft.CacheGuard.release()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ===
      Seq((1L, 1L, 936250L), (2L, 2L, 1127500L), (3L, 1L, 936250L)))
  }

  test("pageRank: string node keys rank exactly as the same graph's long ids") {
    // q211 ranks word strings: the key type is the edge columns' own
    val words = Seq("merge", "join", "shuffle", "spill", "stage", "task")
    val ids = Seq((0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5), (3, 5), (0, 5))
    val byId = Components.pageRank(
        ids.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b"), iters = 4)
      .collect().map(r => words(r.getLong(0).toInt) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    graft.CacheGuard.release()
    val byWord = Components.pageRank(
        ids.map { case (a, b) => (words(a), words(b)) }.toDF("a", "b"), iters = 4)
    assert(byWord.schema("node").dataType === org.apache.spark.sql.types.StringType)
    val got = byWord.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.CacheGuard.release()
    assert(got === byId)
  }

  test("pageRankDocs: rank mass stays near N and the output is exact-consistent") {
    val rows = Components.pageRankDocs(spark, sf).collect()
    graft.CacheGuard.release()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val mass = rows.map(_.getAs[Long]("rank_ppm")).sum
    // floor losses only shrink mass, never grow it; drift stays small
    assert(mass <= n * 1000000L && mass > (n * 1000000L * 9) / 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("rank_ppm") > 0L)
      assert(r.getAs[Double]("rank") ===
        math.round(r.getAs[Long]("rank_ppm") / 100.0) / 10000.0)
    }
  }

  test("orientedTriangles: hash-identical to the naive id-oriented enumeration on the gate graph") {
    import spark.implicits._
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select($"a", $"b")
    val cached = graft.CacheGuard.barrier(edges)
    // the pre-round-13 id-oriented form, kept here as the pin
    val naive = cached.as("e1").join(cached.as("e2"),
        $"e1.a" === $"e2.a" && $"e1.b" < $"e2.b")
      .join(cached.as("e3"),
        $"e1.b" === $"e3.a" && $"e2.b" === $"e3.b")
      .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet // collect-ok: gate-SF spec replay
    val oriented = Components.orientedTriangles(cached)
      .select(least($"u", $"v", $"w").as("x"),
        (($"u" + $"v" + $"w") - least($"u", $"v", $"w")
          - greatest($"u", $"v", $"w")).as("y"),
        greatest($"u", $"v", $"w").as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet // collect-ok: gate-SF spec replay
    graft.CacheGuard.release()
    assert(oriented.nonEmpty, "gate graph must close at least one triangle")
    assert(oriented === naive)
  }

  test("orientedTriangles: hub graph — each triangle enumerated exactly once at its source") {
    import spark.implicits._
    // hub 1 of degree 5 with leaves 2..6; triangles (1,2,3) and (1,5,6)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L),
      (2L, 3L), (5L, 6L)).toDF("a", "b")
    val tri = Components.orientedTriangles(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.CacheGuard.release()
    // sources are the low-degree corners, never the hub: deg(2..6) ≤ 2 < 5
    assert(tri === Set((2L, 1L, 3L), (5L, 1L, 6L)))
  }

  test("triangleStats: dup-graph census is internally consistent") {
    val r = Components.triangleStats(spark, sf).collect().head
    graft.CacheGuard.release()
    assert(r.getAs[Long]("n_edges") > 0L)
    assert(r.getAs[Long]("n_triangles") <= r.getAs[Long]("n_wedges"))
    val (t, w) = (r.getAs[Long]("n_triangles"), r.getAs[Long]("n_wedges"))
    if (w > 0) assert(math.abs(r.getAs[Double]("wedge_closure") - t.toDouble / w) < 1e-3)
  }

  test("labelPropagation: two triangles bridged by one edge split into two communities") {
    import spark.implicits._
    // 1-2-3 triangle, 4-5-6 triangle, bridge 3-4; 3 synchronous rounds
    // with the (count desc, label asc) tie-break converge to labels
    // {1,2,3}→1 and {4,5,6}→3 (hand-traced)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Components.labelPropagation(edges, iters = 3).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    graft.CacheGuard.release()
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("communities: community sizes partition the node set; deterministic") {
    val a = Components.communities(spark, sf).collect()
    graft.CacheGuard.release()
    val b = Components.communities(spark, sf).collect()
    graft.CacheGuard.release()
    assert(a.toSeq === b.toSeq)
    // sizes are consistent: per-community row count equals the size column
    a.groupBy(_.getAs[Long]("community")).foreach { case (_, rows) =>
      assert(rows.forall(_.getAs[Long]("community_size") === rows.length.toLong))
    }
  }

  test("kCore agrees with a driver-side peel-to-fixpoint on random graphs (multi-seed, multi-k)") {
    import spark.implicits._
    for (seed <- Seq(5, 23); k <- Seq(2, 3)) {
      val rng = new scala.util.Random(seed)
      val n = 40
      val edgeList = (1 to 90)
        .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // reference: peel to fixpoint on the driver
      var adj = edgeList.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var changed = true
      while (changed) {
        val dead = adj.collect { case (v, ns) if ns.size < k => v }.toSet
        changed = dead.nonEmpty
        adj = adj.view.filterKeys(!dead(_))
          .mapValues(_ -- dead).filter(_._2.nonEmpty).toMap
      }
      val want = adj.view.mapValues(_.size.toLong).toMap
      val got = Components.kCore(edgeList.toDF("a", "b"), k, rounds = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.CacheGuard.release()
      assert(got === want, s"seed=$seed k=$k")
    }
  }

  test("kCore: fixture peel — the triangle-plus-tail graph loses its tail, keeps its clique") {
    import spark.implicits._
    // 1-2-3-4 form a 4-clique (degree 3 each); 5 hangs off 4; 6 off 5
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = Components.kCore(edges, k = 3).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_degree")).toMap
    graft.CacheGuard.release()
    // the 3-core is exactly the clique, every member at degree 3; the
    // tail (5, 6) peels away over two rounds
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCoreDocs: k-core property holds and the peel reached a genuine fixpoint") {
    val core = Components.kCoreDocs(spark, sf).collect()
    graft.CacheGuard.release()
    assert(core.nonEmpty)
    core.foreach(r => assert(r.getAs[Long]("core_degree") >= 3L))
    // fixpoint check: rebuilding the subgraph induced by the reported
    // core and recounting degrees reproduces core_degree exactly (the
    // 12-round budget was enough — nothing more would peel)
    val nodes = core.map(_.getAs[Long]("doc_id")).toSet
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    graft.CacheGuard.release()
    val inCore = edges.filter { case (a, b) => nodes(a) && nodes(b) }
    val deg = (inCore.map(_._1) ++ inCore.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    core.foreach { r =>
      assert(deg(r.getAs[Long]("doc_id")) === r.getAs[Long]("core_degree"))
    }
    deg.values.foreach(d => assert(d >= 3L))
  }

  test("personalizedPageRank: exact integer replay on a hand graph; seeds attract mass") {
    // path 0-20-40 plus pendant 1-0 (node 20 and 40 and 0: 0,20,40 are
    // seeds under seedMod=20); non-seed 1 hangs off 0
    val edges = Seq((0L, 20L), (20L, 40L), (1L, 0L)).toDF("a", "b")
    val got = Components.personalizedPageRank(edges, iters = 3, seedMod = 20)
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Boolean]("is_seed"), r.getAs[Long]("r")))).toMap
    graft.CacheGuard.release()
    // driver replay: same integer arithmetic
    val sym = Seq((0L, 20L), (20L, 0L), (20L, 40L), (40L, 20L), (1L, 0L), (0L, 1L))
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seeds = deg.keySet.filter(_ % 20 == 0)
    val tele = 150000L * deg.size / seeds.size
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val c = r.map { case (n, v) => n -> v / deg(n) }
      val in = sym.groupBy(_._2).view.mapValues(_.map(e => c(e._1)).sum).toMap
      r = in.map { case (n, s) =>
        n -> ((if (seeds(n)) tele else 0L) + 85L * s / 100L) }.toMap
    }
    got.foreach { case (n, (isSeed, rank)) =>
      assert(isSeed === (n % 20 == 0))
      assert(rank === r(n), s"node $n")
    }
  }

  test("pprDocs: seed flags correct, seed ranks dominate on the similarity graph") {
    val out = Components.pprDocs(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Boolean]("is_seed") ===
      (r.getAs[Long]("doc_id") % 20 == 0)))
    val (seedRanks, restRanks) = out.partition(_.getAs[Boolean]("is_seed"))
    if (seedRanks.nonEmpty && restRanks.nonEmpty) {
      val seedAvg = seedRanks.map(_.getAs[Long]("rank_ppm")).sum /
        seedRanks.length
      val restAvg = restRanks.map(_.getAs[Long]("rank_ppm")).sum /
        restRanks.length
      assert(seedAvg > restAvg, s"seed avg $seedAvg vs rest $restAvg")
    }
    out.foreach(r => assert(r.getAs[Long]("rank_ppm") >= 0L))
  }

  test("pointerDoubling: hand forest — chain, star, and a lone root") {
    // forest: chain 0<-1<-2<-3, star 10<-{11,12}, isolated root 20
    val nodes = Seq(
      (0L, None), (1L, Some(0L)), (2L, Some(1L)), (3L, Some(2L)),
      (10L, None), (11L, Some(10L)), (12L, Some(10L)), (20L, None))
      .toDF("node", "parent")
    val got = Components.pointerDoubling(nodes, rounds = 2).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("anc"), r.getAs[Long]("depth")))).toMap
    graft.CacheGuard.release()
    assert(got === Map(
      0L -> ((0L, 0L)), 1L -> ((0L, 1L)), 2L -> ((0L, 2L)), 3L -> ((0L, 3L)),
      10L -> ((10L, 0L)), 11L -> ((10L, 1L)), 12L -> ((10L, 1L)),
      20L -> ((20L, 0L))))
  }

  test("pointerDoubling: random forests resolve exactly at ceil(log2(maxDepth)) rounds") {
    for (seed <- Seq(5, 23)) {
      val rng = new scala.util.Random(seed)
      val n = 80
      // random recursive forest: node i attaches to a uniform earlier
      // node, 15% fresh roots
      val parent = Array.fill[Option[Long]](n)(None)
      for (i <- 1 until n if rng.nextDouble() >= 0.15)
        parent(i) = Some(rng.nextInt(i).toLong)
      def climb(i: Int): (Long, Long) = {
        var (cur, d) = (i, 0L)
        while (parent(cur).isDefined) { cur = parent(cur).get.toInt; d += 1 }
        (cur.toLong, d)
      }
      val want = (0 until n).map(i => i.toLong -> climb(i)).toMap
      val maxDepth = want.values.map(_._2).max
      val rounds = math.max(1,
        math.ceil(math.log(maxDepth.toDouble) / math.log(2.0)).toInt)
      val nodes = (0 until n).map(i => (i.toLong, parent(i))).toDF("node", "parent")
      val got = Components.pointerDoubling(nodes, rounds).collect()
        .map(r => r.getAs[Long]("node") ->
          ((r.getAs[Long]("anc"), r.getAs[Long]("depth")))).toMap
      graft.CacheGuard.release()
      assert(got === want, s"seed=$seed maxDepth=$maxDepth rounds=$rounds")
    }
  }

  test("threadTrees: per-thread invariants and the md5 forest replayed in Scala") {
    val out = Components.threadTrees(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    // replay the forest construction + naive climb driver-side
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    }
    val ids = out.map(_.getAs[Long]("event_id"))
    val par: Map[Long, Option[Long]] = ids.map { e =>
      val pos = e % 64
      e -> (if (pos == 0) None else Some(e - pos + (h32(e.toString) % pos)))
    }.toMap
    def climb(e: Long): (Long, Long) = {
      var (cur, d) = (e, 0L)
      while (par(cur).isDefined) { cur = par(cur).get; d += 1 }
      (cur, d)
    }
    val resolved = ids.map(e => e -> climb(e)).toMap
    val sizes = resolved.values.groupBy(_._1)
      .map { case (r, vs) => r -> ((vs.size.toLong, vs.map(_._2).max)) }
    out.foreach { r =>
      val e = r.getAs[Long]("event_id")
      val (root, depth) = resolved(e)
      assert(r.getAs[Long]("root_id") === root)
      assert(r.getAs[Long]("depth") === depth)
      assert(r.getAs[Long]("thread_n") === sizes(root)._1)
      assert(r.getAs[Long]("thread_depth") === sizes(root)._2)
    }
    // every thread is a 64-block: root ids are multiples of 64 and the
    // doubling budget 2^6 covers the structural worst case (depth 63)
    assert(out.forall(_.getAs[Long]("root_id") % 64 == 0))
    assert(out.forall(_.getAs[Long]("depth") <= 63))
  }

  test("hits: exact integer replay on a hand graph; hub and authority separate") {
    // 1 and 2 point at 3 (and 1 at 2); 4 points at 3: 3 is the pure
    // authority (in-deg 3, out-deg 0), 1 the strongest hub (2 targets)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L)).toDF("a", "b")
    val got = Components.hits(edges, iters = 2).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg"),
          r.getAs[Long]("auth_ppm"), r.getAs[Long]("hub_ppm")))).toMap
    graft.CacheGuard.release()
    // driver replay of the max-normalized integer iteration
    val ed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L))
    val nodes = ed.flatMap(e => Seq(e._1, e._2)).distinct
    var h = nodes.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      val aRaw = ed.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap
      val aMax = aRaw.values.max
      a = nodes.map(n => n -> aRaw.get(n).map(_ * 1000000L / aMax).getOrElse(0L)).toMap
      val hRaw = ed.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap
      val hMax = hRaw.values.max
      h = nodes.map(n => n -> hRaw.get(n).map(_ * 1000000L / hMax).getOrElse(0L)).toMap
    }
    nodes.foreach { n =>
      val (od, id, ap, hp) = got(n)
      assert(od === ed.count(_._1 == n).toLong)
      assert(id === ed.count(_._2 == n).toLong)
      assert(ap === a(n), s"auth node $n")
      assert(hp === h(n), s"hub node $n")
    }
    // structure: 3 is the max authority with zero hub; 1 the max hub
    assert(got(3L)._3 === 1000000L && got(3L)._4 === 0L)
    assert(got(1L)._4 === 1000000L)
  }

  test("hitsDocs: scores bounded by the 1e6 normalizer, max attained on both axes") {
    val out = Components.hitsDocs(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (ap, hp) = (r.getAs[Long]("auth_ppm"), r.getAs[Long]("hub_ppm"))
      assert(ap >= 0L && ap <= 1000000L)
      assert(hp >= 0L && hp <= 1000000L)
      // a doc with no in-edges holds zero authority; no out-edges, zero hub
      if (r.getAs[Long]("in_deg") == 0L) assert(ap === 0L)
      if (r.getAs[Long]("out_deg") == 0L) assert(hp === 0L)
    }
    assert(out.map(_.getAs[Long]("auth_ppm")).max === 1000000L)
    assert(out.map(_.getAs[Long]("hub_ppm")).max === 1000000L)
  }

  test("bfsHops: exact hop distances on a hand graph; unreached stays -1") {
    // path 0-1-2-3-4 (seed 0 under mod 20) plus unreachable island 5-6
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("a", "b")
    val got = Components.bfsHops(edges, seedMod = 20, rounds = 5).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("hops")).toMap
    graft.CacheGuard.release()
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> -1L, 6L -> -1L))
    // a round budget below the radius leaves the frontier tail unreached
    val cut = Components.bfsHops(edges, seedMod = 20, rounds = 2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("hops")).toMap
    graft.CacheGuard.release()
    assert(cut(2L) === 2L && cut(3L) === -1L && cut(4L) === -1L)
  }

  test("modularityAudit: mass identities and the offset-division replay hold") {
    val out = Components.modularityAudit(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val m = out.head.getAs[Long]("m_edges")
    assert(out.forall(_.getAs[Long]("m_edges") == m))
    // internal edges never exceed the graph; degree mass partitions 2m
    assert(out.map(_.getAs[Long]("e_in")).sum <= m)
    assert(out.map(_.getAs[Long]("deg_sum")).sum === 2 * m)
    val den = BigInt(4) * m * m
    out.foreach { r =>
      val (ein, ds) = (r.getAs[Long]("e_in"), r.getAs[Long]("deg_sum"))
      assert(r.getAs[Long]("q_num") === 4 * m * ein - ds * ds)
      // floor-division replay (BigInt / floors toward -inf for our
      // positive-shifted dividend)
      val want = (BigInt(r.getAs[Long]("q_num")) * 1000000 + den * 1000000) /
        den - 1000000
      assert(BigInt(r.getAs[Long]("q_ppm")) === want)
      assert(r.getAs[Long]("q_ppm") > -1000000L &&
        r.getAs[Long]("q_ppm") <= 1000000L)
    }
    // a near-dup graph's LPA partition must beat the random graph
    assert(out.map(_.getAs[Long]("q_num")).map(BigInt(_)).sum > 0)
  }

  test("negativeEdgeSamples: candidates replay the md5 probe; acceptance is true rejection") {
    import spark.implicits._
    val out = Components.negativeEdgeSamples(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select(($"a" % 100000).as("x"), ($"b" % 100000).as("y"))
      .filter($"x" =!= $"y").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).distinct
    graft.CacheGuard.release()
    val adj = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val maxId = graft.Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("doc_id"))).head.getLong(0)
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    }
    // exactly 2 candidates per positive edge
    assert(out.length === edges.length * 2)
    out.foreach { r =>
      val (a, b, j, c) = (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("j"), r.getAs[Long]("c"))
      assert(c === h32(s"$a#$j") % (maxId + 1))
      assert(r.getAs[Boolean]("accepted") ===
        (!adj.contains((a, c)) && c != a && c != b))
    }
  }

  test("messagePassing: both layers replay as neighbor-mean floor divisions") {
    import spark.implicits._
    val out = Components.messagePassing(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select(($"a" % 100000).as("x"), ($"b" % 100000).as("y"))
      .filter($"x" =!= $"y").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).distinct
    graft.CacheGuard.release()
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val stop = TextAnalysis.stopwords.toSet
    val q = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val tk = Option(r.getAs[String]("text")).getOrElse("")
          .toLowerCase.split("\\s+").filter(_.nonEmpty)
        val raw = if (tk.isEmpty) 0.0
          else math.min(1.0, tk.length / 100.0) * 0.6 +
            tk.count(stop).toDouble / tk.length * 0.4
        r.getAs[Long]("doc_id") ->
          math.floor(math.floor(raw * 1e4 + 0.5) / 1e4 * 1e4 + 0.5).toLong
      }.toMap
    val h1 = nbrs.map { case (n, ns) =>
      n -> ns.map(q).sum./(ns.length) }
    out.foreach { r =>
      val n = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("deg") === nbrs(n).length.toLong)
      assert(r.getAs[Long]("q_u4") === q(n))
      assert(r.getAs[Long]("h1_u4") === h1(n), s"h1 of $n")
      assert(r.getAs[Long]("h2_u4") ===
        nbrs(n).map(h1).sum / nbrs(n).length, s"h2 of $n")
    }
  }

  test("assortativity: endpoint-degree Pearson replays in BigInt over the edge list") {
    import spark.implicits._
    val out = Components.assortativity(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.length === 1)
    val r = out.head
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select(($"a" % 100000).as("x"), ($"b" % 100000).as("y"))
      .filter($"x" =!= $"y").collect()
      .map(p => (math.min(p.getLong(0), p.getLong(1)),
        math.max(p.getLong(0), p.getLong(1)))).distinct
    graft.CacheGuard.release()
    assert(r.getAs[Long]("n_edges") === edges.length.toLong)
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val xy = sym.map { case (u, v) => (BigInt(deg(u)), BigInt(deg(v))) }
    val n = BigInt(xy.length)
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val cov = n * sxy - sx * sy
    val vr = (n * sxx - sx * sx) * (n * syy - sy * sy)
    val want = if (vr == 0) BigInt(0) else cov * cov * 1000000 / vr
    assert(BigInt(r.getAs[Long]("r2_ppm")) === want)
    assert(r.getAs[Long]("r_sign") === cov.signum.toLong)
    val regime = if (cov > 0) "assortative"
      else if (cov < 0) "disassortative" else "neutral"
    assert(r.getAs[String]("regime") === regime)
  }

  test("degreeHistogram: buckets partition the node set; membership is exact power ranges") {
    val out = Components.degreeHistogram(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (p, lo) = (r.getAs[Long]("p"), r.getAs[Long]("deg_ge"))
      assert(lo === (1L << p))
      assert(r.getAs[Long]("max_deg") >= lo &&
        r.getAs[Long]("max_deg") < 2 * lo)
      assert(r.getAs[Long]("n_nodes") >= 1L)
    }
    val total = out.map(_.getAs[Long]("n_nodes")).sum
    out.foreach(r => assert(r.getAs[Long]("share_bp") ===
      r.getAs[Long]("n_nodes") * 10000L / total))
  }

  test("bfsDocs: seeds at 0 hops; every reached non-seed within the round budget") {
    val out = Components.bfsDocs(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      val h = r.getAs[Long]("hops")
      if (r.getAs[Boolean]("is_seed")) assert(h === 0L)
      else assert(h === -1L || (h >= 1L && h <= 5L))
    }
  }

  test("q279: incremental contraction equals from-scratch CC on the full graph; labels only move down") {
    import spark.implicits._
    val out = Components.incrementalCc(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("new_label") <= r.getAs[Long]("old_label"))
      assert(r.getAs[Boolean]("changed") ===
        (r.getAs[Long]("new_label") != r.getAs[Long]("old_label")))
    }
    // the identity the operator exists for: composing base labels with
    // the contracted-graph CC equals CC over the full est>=0.5 graph
    val pairs = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.5)
    val full = Components.connectedComponents(pairs.select($"a", $"b"))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap
    graft.CacheGuard.release()
    out.foreach { r =>
      val n = r.getAs[Long]("node")
      assert(r.getAs[Long]("new_label") === full.getOrElse(n, n),
        s"node $n")
    }
    // the delta batch is non-trivial at the gate SF: some labels merge
    assert(out.exists(_.getAs[Boolean]("changed")))
  }

  test("q281: louvain gains equal the actual 2m²-scaled modularity delta of applying the move") {
    import spark.implicits._
    val out = Components.louvainMoveAudit(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select($"a", $"b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.CacheGuard.release()
    val m = edges.length.toLong
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val lbl = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("community")).toMap
    val deg = adj.view.mapValues(_.length.toLong).toMap
    // degree and k_in_cur replay
    out.foreach { r =>
      val i = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("degree") === deg(i))
      assert(r.getAs[Long]("k_in_cur") ===
        adj(i).count(j => lbl(j) == lbl(i)).toLong)
    }
    // 4m²-scaled modularity of a labeling: Σ_c (4m·e_c − st_c²)
    def m4(l: Map[Long, Long]): BigInt = {
      val eIn: Map[Long, Long] = edges.groupBy(e => l(e._1))
        .map { case (c, es) => c -> es.count(e => l(e._2) == c).toLong }
      // ns.keys is a Set — map through toSeq or equal degrees collapse
      val st: Map[Long, Long] = l.groupBy(_._2).map { case (c, ns) =>
        c -> ns.keys.toSeq.map(deg).sum }
      val cs = eIn.keySet ++ st.keySet
      cs.toSeq.map { c =>
        val stc = BigInt(st.getOrElse(c, 0L))
        BigInt(4) * BigInt(m) * BigInt(eIn.getOrElse(c, 0L)) - stc * stc
      }.sum
    }
    val base = m4(lbl)
    val moved = out.filter(_.getAs[Boolean]("moved"))
    assert(moved.nonEmpty, "gate-SF graph must have at least one move")
    moved.take(25).foreach { r =>
      val i = r.getAs[Long]("doc_id")
      val after = m4(lbl.updated(i, r.getAs[Long]("best_community")))
      assert(after - base === BigInt(2) * r.getAs[Long]("gain_x2m2"),
        s"node $i")
    }
    // unmoved nodes: every neighboring community is a non-positive gain
    // (replayed from first principles for a sample)
    val st = lbl.groupBy(_._2).map { case (c, ns) =>
      c -> ns.keys.toSeq.map(deg).sum }
    out.filter(!_.getAs[Boolean]("moved")).take(25).foreach { r =>
      val i = r.getAs[Long]("doc_id")
      val a = lbl(i); val k = deg(i)
      val kia = adj(i).count(j => lbl(j) == a).toLong
      adj(i).map(lbl).distinct.filter(_ != a).foreach { c =>
        val kic = adj(i).count(j => lbl(j) == c).toLong
        val gain = 2 * m * (kic - kia) - k * (st(c) - st(a) + k)
        assert(gain <= 0L, s"node $i should have moved to $c")
      }
    }
  }

  test("q285: local clustering — brute-force triangle replay per node, census consistency") {
    import spark.implicits._
    val out = Components.localClustering(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.nonEmpty)
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select($"a", $"b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.CacheGuard.release()
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var triTotal = 0L
    out.foreach { r =>
      val i = r.getAs[Long]("doc_id")
      val ns = nbrs(i).toSeq.sorted
      val k = ns.size.toLong
      assert(r.getAs[Long]("degree") === k)
      // brute-force: neighbor pairs of i that are themselves adjacent
      val tri = (for {
        x <- ns.indices; y <- (x + 1) until ns.size
        if nbrs(ns(x)).contains(ns(y))
      } yield 1).size.toLong
      assert(r.getAs[Long]("n_triangles") === tri, s"node $i")
      triTotal += tri
      val possible = k * (k - 1) / 2
      assert(r.getAs[Long]("possible") === possible)
      assert(r.getAs[Boolean]("defined") === (possible > 0))
      assert(r.getAs[Long]("lcc_u4") ===
        (if (possible > 0) tri * 10000 / possible else 0L))
    }
    // each triangle is counted at exactly its three corners
    assert(triTotal % 3 === 0L)
    assert(triTotal > 0L, "gate graph must close at least one triangle")
  }

  test("q292: assortativity — exact integer rational replayed; star fixture gives fractional r") {
    import spark.implicits._
    val out = Components.degreeAssortativity(spark, sf).collect()
    graft.CacheGuard.release()
    assert(out.length === 1)
    val r = out.head
    // no wide-integer columns ship (the round-12 DECIMAL hash-render class)
    assert(!r.schema.fields.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
    val docIds = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id").collect() // collect-ok: gate-SF spec replay
      .map(_.getLong(0))
    val maxId = docIds.max
    val starLeaves = docIds
      .map(x => (Components.starHub(maxId), x + Components.starLeafOff(maxId)))
    val edges = DedupOps.minHashLshPairsOracled(spark, sf, threshold = 0.2)
      .select($"a", $"b").collect() // collect-ok: gate-SF spec replay
      .map(e => (e.getLong(0), e.getLong(1))) ++ starLeaves
    graft.CacheGuard.release()
    val directed = edges ++ edges.map(e => (e._2, e._1))
    val deg = directed.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val m2 = directed.length.toLong
    val sumD = directed.map(e => deg(e._1)).sum
    val sumD2 = directed.map(e => deg(e._1) * deg(e._1)).sum
    val sumXY = directed.map(e => deg(e._1) * deg(e._2)).sum
    assert(r.getAs[Long]("m2") === m2)
    assert(r.getAs[Long]("sum_d") === sumD)
    assert(r.getAs[Long]("sum_d2") === sumD2)
    assert(r.getAs[Long]("sum_dxdy") === sumXY)
    val num = BigInt(m2) * sumXY - BigInt(sumD) * sumD
    val den = BigInt(m2) * sumD2 - BigInt(sumD) * sumD
    val want = math.floor(num.toDouble / den.toDouble * 1e4 + 0.5) / 1e4
    assert(r.getAs[Double]("assortativity") === want)
    assert(want >= -1.0 && want <= 1.0)
    // the star de-degenerates the clique bag: r must be FRACTIONAL
    assert(want !== -1.0); assert(want !== 0.0); assert(want !== 1.0)
  }

  test("starContractCc: labels equal a driver union-find; rounds are logarithmic where LPA's budget is linear") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val present = docs.toSet
    val edges = docs.filter(i => i % 64 != 63 && present(i + 1))
      .map(i => (i, i + 1))
    // driver union-find ground truth
    val parent = scala.collection.mutable.Map(docs.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = docs.map(i => i -> find(i)).toMap
    val (labels, rounds) = Components.starContractCc(
      edges.toSeq.toDF("a", "b"))
    val got = labels.collect().map(r =>
      r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    graft.CacheGuard.release()
    // every non-isolated node labeled with its component MINIMUM
    val nonIsolated = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(got.keySet === nonIsolated.toSet)
    nonIsolated.foreach(i => assert(got(i) === truth(i), s"node $i"))
    // the contraction's whole point: diameter-63 chains collapse in
    // O(log n) alternations — the O(diameter) LPA budget (maxIter 30)
    // cannot even REPRESENT this graph's closure
    assert(rounds <= 14, s"star contraction took $rounds rounds")
    assert(truth.values.toSet.size < docs.length) // real multi-node chains
  }

  test("starContractCc: equal-cardinality rounds do not fake convergence (observed-count short-circuit)") {
    import spark.implicits._
    // r17 folded the per-round count() jobs into an `observe` metric
    // that SHORT-CIRCUITS the exact anti-join when cardinalities differ;
    // this pins the other branch: graphs whose contraction passes through
    // same-size-but-different edge sets (cycles do) must still converge
    // to the true components, never stop early on a count tie
    val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "9-cycle" -> ((0L until 9L).map(i => (i, (i + 1) % 9))),
      "two cycles" -> ((0L until 6L).map(i => (i, (i + 1) % 6)) ++
        (10L until 15L).map(i => (i, 10L + (i - 9L) % 5L))),
      "barbell" -> Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L),
        (3L, 4L), (4L, 5L), (3L, 5L)))
    for ((name, edges) <- graphs) {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = nodes.map(i => i -> find(i)).toMap
      val (labels, _) = Components.starContractCc(edges.toDF("a", "b"))
      val got = labels.collect().map(r =>
        r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
      graft.CacheGuard.release()
      assert(got === truth, name)
    }
  }

  test("starClusters: q48's output contract on the deep-chain graph; singletons self-labeled") {
    import spark.implicits._
    val rows = Components.starClusters(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(rows.length === docs.length)
    // component = min of a maximal consecutive-id run inside a 64-block
    val present = docs.toSet
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      var lo = id
      while (lo % 64 != 0 && present(lo - 1)) lo -= 1
      assert(r.getAs[Long]("component") === lo)
      var hi = id
      while (hi % 64 != 63 && present(hi + 1)) hi += 1
      assert(r.getAs[Long]("cluster_size") === hi - lo + 1)
    }
    // sizes sum back to the corpus (clusters partition it)
    val byComp = rows.groupBy(_.getAs[Long]("component"))
    byComp.foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("cluster_size")).distinct.length === 1)
      assert(g.head.getAs[Long]("cluster_size") === g.length.toLong)
    }
  }
}
