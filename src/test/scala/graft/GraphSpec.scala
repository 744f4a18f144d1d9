package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Gates for integer-ppm PageRank (Graph.scala): the symmetric-cycle
  * fixed point, sink-vs-source ordering, and exact ppm arithmetic on a
  * hand-computable graph. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  private def events(rows: (Long, Long, Long, String)*) =
    rows.toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")

  test("a 2-cycle is a fixed point at exactly 500000 ppm each") {
    // one user alternating a,b,a,b → edges a→b and b→a, both p=1.
    // r = 0.85·0.5 + 0.15/2 = 0.5 every round — integer-exact.
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 3000L, 1L, "a"), (4L, 4000L, 1L, "b"))
    val r = Graph.pagerankEvents(ev).orderBy("event_type")
      .as[(String, Long)].collect().toSeq
    assert(r == Seq("a" -> 500000L, "b" -> 500000L))
    Caches.releaseAll()
  }

  test("a pure sink outranks its sources; sources keep teleport mass only") {
    // two users each do a→b: a has no inbound mass after round 1, so
    // it settles at the teleport floor 150000 div 2 = 75000
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 1000L, 2L, "a"), (4L, 2000L, 2L, "b"))
    val r = Graph.pagerankEvents(ev)
      .as[(String, Long)].collect().toMap
    assert(r("a") == 75000L)
    assert(r("b") > r("a"))
    Caches.releaseAll()
  }

  test("rank mass is bounded by 1e6 and every node keeps the teleport floor") {
    val ev = events(
      (1L, 1000L, 1L, "x"), (2L, 2000L, 1L, "y"), (3L, 3000L, 1L, "z"),
      (4L, 1000L, 2L, "y"), (5L, 2000L, 2L, "x"))
    val r = Graph.pagerankEvents(ev).as[(String, Long)].collect()
    assert(r.map(_._2).sum <= 1000000L, "truncation only ever leaks mass")
    assert(r.forall(_._2 >= 150000L / 3), "teleport floor holds")
    Caches.releaseAll()
  }

  test("transitionEntropy: a deterministic alternation scores 0 bits; " +
    "a uniform 4-way fan scores exactly 2") {
    // user 1 alternates a,b,a,b,a → both rows deterministic (0 bits);
    // user 2 fans a→{b,c,d,e} uniformly via a,b,a,c,a,d,a,e
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 3000L, 1L, "a"), (4L, 4000L, 1L, "b"), (5L, 5000L, 1L, "a"),
      (6L, 1000L, 2L, "a"), (7L, 2000L, 2L, "b"),
      (8L, 3000L, 2L, "a"), (9L, 4000L, 2L, "c"),
      (10L, 5000L, 2L, "a"), (11L, 6000L, 2L, "d"),
      (12L, 7000L, 2L, "a"), (13L, 8000L, 2L, "e"))
    val r = Graph.transitionEntropy(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // user 1: a→b ×2, b→a ×2; user 2: a→{b,c,d,e} ×1 each, b/c/d→a ×1
    // row a: out 6, cells {b:3, c:1, d:1, e:1}: h = (3·bits(2) +
    // 3·bits(6)) = 3·1 + 3·2 = 9 → 1500 milli; n_next 4, hmax 2
    assert(r.find(_._1 == "a").get == (("a", 6L, 4L, 1500L, 2L)))
    // row b: out 3, all → a (bits(1)=0) → 0 bits, hmax 0
    assert(r.find(_._1 == "b").get == (("b", 3L, 1L, 0L, 0L)))
    assert(r.find(_._1 == "c").get == (("c", 1L, 1L, 0L, 0L)))
    Caches.releaseAll()
  }

  test("pprEvents: 2-cycle hand-run — restart mass concentrates at " +
    "the seed's side of the alternation") {
    // seed = "a" (lexicographic min). r0 = (1e6, 0); per round the
    // whole mass crosses the cycle, damped, +150000 restart on a:
    // (150000, 850000) → (872500, 127500) → (258375, 741625) →
    // (780381, 219618) → (336675, 663323) after 5 rounds.
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 3000L, 1L, "a"), (4L, 4000L, 1L, "b"))
    val r = Graph.pprEvents(ev).as[(String, Long)].collect().toSeq
    assert(r == Seq("a" -> 336675L, "b" -> 663323L))
    Caches.releaseAll()
  }

  test("pprEvents: a seed with no inbound edges holds exactly the " +
    "restart mass; its successor reaches the damped fixed point") {
    // a→b only: from round 2 on, a = 150000 (pure restart) and
    // b = 850000·150000 div 1e6 = 127500 — a fixed point.
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 1000L, 2L, "a"), (4L, 2000L, 2L, "b"))
    val r = Graph.pprEvents(ev).as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 150000L, "b" -> 127500L))
    Caches.releaseAll()
  }

  /** Spark jobs started while `body` runs; the listener bus is drained
    * before the count is read, since its events arrive asynchronously. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("the power iteration's job count does not grow with iters") {
    val ev = events(
      (1L, 1000L, 1L, "x"), (2L, 2000L, 1L, "y"), (3L, 3000L, 1L, "z"),
      (4L, 1000L, 2L, "y"), (5L, 2000L, 2L, "x"))
    val counts = Seq[(String, Int => DataFrame)](
      "pagerankEvents" -> (i => Graph.pagerankEvents(ev, iters = i)),
      "pprEvents" -> (i => Graph.pprEvents(ev, iters = i))
    ).map { case (name, q) =>
      q(1).collect() // stages the transition pairs outside the count
      val one = jobsDuring(q(1).collect())
      val five = jobsDuring(q(5).collect())
      Caches.releaseAll()
      (name, one, five)
    }
    assert(counts.forall(c => c._2 == c._3),
      counts.map(c => s"${c._1}: ${c._2} jobs at iters=1, ${c._3} at iters=5")
        .mkString("; "))
  }

  test("a null event type stays a node and holds only the teleport floor") {
    // null→a is dropped by the equi-join on src, b→null by dst IS NOT
    // NULL; the null node still counts in n = 3 and gets no inbound mass
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 3000L, 1L, "a"), (4L, 4000L, 1L, "b"),
      (5L, 1000L, 2L, null), (6L, 2000L, 2L, "a"),
      (7L, 1000L, 3L, "b"), (8L, 2000L, 3L, null))
    val r = Graph.pagerankEvents(ev).as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 333333L, "b" -> 333333L,
      (null: String) -> 150000L / 3))
    Caches.releaseAll()
  }

  test("an isolated type keeps exactly 150000 div n") {
    // z occurs alone in its user's stream: no transition in or out
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 3000L, 1L, "a"), (4L, 4000L, 1L, "b"),
      (5L, 1000L, 2L, "z"))
    val r = Graph.pagerankEvents(ev).as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 333333L, "b" -> 333333L, "z" -> 150000L / 3))
    Caches.releaseAll()
  }

  test("pprEvents seeds at Spark's min: binary UTF-8 order, not UTF-16") {
    // U+FF21 is EF BC A1 in UTF-8 and FF21 in UTF-16; U+1F600 is F0 9F
    // 98 80 and D83D DE00. Spark's min (UTF-8 bytes) picks the fullwidth
    // letter; java.lang.String.compareTo (UTF-16 units) would pick the
    // emoji. Edges run wide → emoji only, so the seed has no inbound mass.
    val (wide, emoji) = ("Ａ", "😀")
    assert(emoji.compareTo(wide) < 0, "the two orders must disagree")
    val ev = events(
      (1L, 1000L, 1L, wide), (2L, 2000L, 1L, emoji),
      (3L, 1000L, 2L, wide), (4L, 2000L, 2L, emoji))
    val seed = ev.agg(min(col("event_type"))).as[String].head()
    assert(seed == wide)
    val r = Graph.pprEvents(ev).as[(String, Long)].collect().toMap
    assert(r == Map(seed -> 150000L, emoji -> 127500L))
    Caches.releaseAll()
  }

  test("hitsScores: a→b separates the pure hub from the pure authority") {
    val ev = events((1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"))
    val r = Graph.hitsScores(ev)
      .as[(String, Long, Long)].collect().toSeq
    assert(r == Seq(("a", 1000000L, 0L), ("b", 0L, 1000000L)))
    Caches.releaseAll()
  }

  test("hitsScores: co-citing hubs split hub mass, sink takes all authority") {
    // a→c and b→c: both sources are equal hubs at 500000; c is the
    // whole authority mass and no hub at all
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "c"),
      (3L, 1000L, 2L, "b"), (4L, 2000L, 2L, "c"))
    val r = Graph.hitsScores(ev).as[(String, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r("a") == ((500000L, 0L)))
    assert(r("b") == ((500000L, 0L)))
    assert(r("c") == ((0L, 1000000L)))
    Caches.releaseAll()
  }

  test("hitsScores: transition counts weight authority 2:1 exactly") {
    // a→b twice, a→c once: auth(b) = 666666 ppm, auth(c) = 333333 ppm
    val ev = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 1000L, 2L, "a"), (4L, 2000L, 2L, "b"),
      (5L, 1000L, 3L, "a"), (6L, 2000L, 3L, "c"))
    val r = Graph.hitsScores(ev).as[(String, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r("a") == ((1000000L, 0L)))
    assert(r("b") == ((0L, 666666L)))
    assert(r("c") == ((0L, 333333L)))
    Caches.releaseAll()
  }

  // triangle {1,2,3} (all pairs share cells a#0+b#0) + pendant user 4
  // (shares c#0+d#0 with user 1 only)
  private def trianglePlusPendant = events(
    (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
    (3L, 3000L, 1L, "c"), (4L, 4000L, 1L, "d"),
    (5L, 1000L, 2L, "a"), (6L, 2000L, 2L, "b"),
    (7L, 1000L, 3L, "a"), (8L, 2000L, 3L, "b"),
    (9L, 3000L, 4L, "c"), (10L, 4000L, 4L, "d"))

  test("kCore(2) peels the pendant and keeps the triangle at degree 2") {
    val r = Graph.kCore(trianglePlusPendant, k = 2)
      .as[(Long, Long)].collect().toSeq
    assert(r == Seq(1L -> 2L, 2L -> 2L, 3L -> 2L))
    Caches.releaseAll()
  }

  test("kCore(3): cascade peeling empties the triangle-plus-pendant") {
    // round 1 drops users 2,3,4 (degree < 3), which strands user 1
    assert(Graph.kCore(trianglePlusPendant, k = 3).isEmpty)
    Caches.releaseAll()
  }

  test("an exhausted peeling budget is an error, never a result") {
    // k=2 needs 2 rounds (peel user 4, then confirm the fixpoint)
    intercept[IllegalStateException] {
      Graph.kCore(trianglePlusPendant, k = 2, maxRounds = 1)
    }
    Caches.releaseAll()
  }

  test("kTruss(3) keeps the triangle (support 1 each) and peels the " +
    "pendant edge (support 0)") {
    val r = Graph.kTruss(trianglePlusPendant, k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
    Caches.releaseAll()
  }

  test("kTruss(4) empties the graph: one triangle can't give any edge " +
    "support 2") {
    assert(Graph.kTruss(trianglePlusPendant, k = 4).isEmpty)
    Caches.releaseAll()
  }

  test("kTruss: exhausted budget errors; k < 3 is rejected") {
    intercept[IllegalStateException] {
      // round 1 peels the pendant edge; round 2 confirms the fixpoint
      Graph.kTruss(trianglePlusPendant, k = 3, maxRounds = 1)
    }
    intercept[IllegalArgumentException] {
      Graph.kTruss(trianglePlusPendant, k = 2)
    }
    Caches.releaseAll()
  }

  test("degreeAssortativity: star-heavy toy graph is disassortative, " +
    "exact lanes") {
    // degrees 1→3, 2→2, 3→2, 4→1; both orientations: n=8, Σx=18,
    // Σxy=38, Σx²=44 → num=8·38−18²=−20, varr=8·44−18²=28,
    // ppm = −(1e6·400 div 784) = −510204
    val r = Graph.degreeAssortativity(trianglePlusPendant)
      .as[(Long, Option[Long])].collect().toSeq
    assert(r == Seq((8L, Some(-510204L))))
    Caches.releaseAll()
  }

  test("clusteringCoeff: triangle corners at 1e6, the bridging hub " +
    "below, pendant NULL") {
    // triangle {1,2,3} + pendant 4 on user 1: deg(1)=3, tri(1)=1 →
    // 2e6·1 div 6 = 333333; users 2,3 deg 2 tri 1 → 1e6; user 4 deg 1
    // → NULL
    val r = Graph.clusteringCoeff(trianglePlusPendant)
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(r == Seq(
      (1L, 3L, 1L, Some(333333L)), (2L, 2L, 1L, Some(1000000L)),
      (3L, 2L, 1L, Some(1000000L)), (4L, 1L, 0L, None)))
    Caches.releaseAll()
  }

  test("userComponents: two islands plus an isolated singleton, " +
    "min-id labels") {
    // island {1,2,3} (cells a,b), island {5,6} (cells c,d); user 9
    // never shares ≥2 cells with anyone → singleton self-label
    val e = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 1000L, 2L, "a"), (4L, 2000L, 2L, "b"),
      (5L, 1000L, 3L, "a"), (6L, 2000L, 3L, "b"),
      (7L, 3000L, 5L, "c"), (8L, 4000L, 5L, "d"),
      (9L, 3000L, 6L, "c"), (10L, 4000L, 6L, "d"),
      (11L, 9000L, 9L, "a"))
    val r = Graph.userComponents(e).as[(Long, Long)].collect().toSeq
    assert(r == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      9L -> 9L))
    val sizes = Graph.componentSizes(e).as[(Long, Long)].collect().toSeq
    assert(sizes == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L))
    Caches.releaseAll()
  }

  test("degreeAssortativity: a regular graph (zero variance) yields " +
    "NULL ppm") {
    // triangle only: every degree 2 → varr = 0
    val tri = events(
      (1L, 1000L, 1L, "a"), (2L, 2000L, 1L, "b"),
      (3L, 1000L, 2L, "a"), (4L, 2000L, 2L, "b"),
      (5L, 1000L, 3L, "a"), (6L, 2000L, 3L, "b"))
    val r = Graph.degreeAssortativity(tri)
      .as[(Long, Option[Long])].collect().toSeq
    assert(r == Seq((6L, None)))
    Caches.releaseAll()
  }

  test("betweenness: path graph 1-2-3-4-5 matches hand-run Brandes") {
    // all 5 sources sampled (nSources >= |V|), depth 4 = diameter: the
    // directed-sum convention — b(v) = Σ_s δ_s(v) — gives 2× the
    // undirected pair count. Pairs through 3: (1,4)(1,5)(2,4)(2,5) → 8;
    // through 2: (1,3)(1,4)(1,5) → 6; endpoints 0. σ = 1 everywhere, so
    // the quantized recursion divides by 1 and is exact micro.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("ua", "ub")
    val b = Graph.betweennessFromPairs(pairs, nSources = 5, maxDepth = 4)
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(b == Seq(1L -> 0L, 2L -> 6000000L, 3L -> 8000000L,
      4L -> 6000000L, 5L -> 0L))
    Caches.releaseAll()
  }

  test("betweenness: diamond splits path credit across the two routes") {
    // square 1-2-4-3-1: every s-t pair across the diagonal has TWO
    // shortest paths, so each middle node gets σ_v/σ_w = 1/2 per
    // direction — 1e6 micro total per node, all four by symmetry.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("ua", "ub")
    val b = Graph.betweennessFromPairs(pairs, nSources = 4, maxDepth = 4)
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(b == Seq(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L,
      4L -> 1000000L))
    Caches.releaseAll()
  }

  test("betweenness: depth truncation drops pairs beyond the horizon") {
    // path 1-2-3-4-5 at maxDepth 2: only pairs ≤ 2 hops apart count.
    // Through 3: (1,... wait — (s,t) with d(s,t) <= 2 passing through
    // 3: (2,4) both directions plus (1,3)/(3,5) endpoints don't count
    // → 2e6; through 2: (1,3) → 2e6; through 4: (3,5) → 2e6.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("ua", "ub")
    val b = Graph.betweennessFromPairs(pairs, nSources = 5, maxDepth = 2)
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(b == Seq(1L -> 0L, 2L -> 2000000L, 3L -> 2000000L,
      4L -> 2000000L, 5L -> 0L))
    Caches.releaseAll()
  }

  test("harmonic: path graph matches hand sums in exact micro") {
    // path 1-2-3-4-5, all sources, full diameter: H(3) = 2·1 + 2·1/2
    // = 3e6; H(2) = 1 + 1 + 1/2 + 1/3 → 2833333 (truncating div);
    // H(1) = 1 + 1/2 + 1/3 + 1/4 → 2083333.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("ua", "ub")
    val lv = Graph.bfsLevelsFromPairs(pairs, nSources = 5, maxDepth = 4)
    val h = Graph.harmonicFromLevels(lv, topK = 20)
      .as[(Long, Long)].collect().toSeq
    assert(h == Seq(3L -> 3000000L, 2L -> 2833333L, 4L -> 2833333L,
      1L -> 2083333L, 5L -> 2083333L))
    Caches.releaseAll()
  }

  test("harmonic: depth truncation reduces to degree within 1 hop") {
    // maxDepth 1: only direct neighbors contribute, each a full 1e6 —
    // harmonic collapses to degree·1e6.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("ua", "ub")
    val lv = Graph.bfsLevelsFromPairs(pairs, nSources = 5, maxDepth = 1)
    val h = Graph.harmonicFromLevels(lv, topK = 20)
      .as[(Long, Long)].collect().toSeq
    assert(h == Seq(2L -> 2000000L, 3L -> 2000000L, 4L -> 2000000L,
      1L -> 1000000L, 5L -> 1000000L))
    Caches.releaseAll()
  }

  test("eccentricity: path-graph per-source depths, capped by maxDepth") {
    // path 1-2-3-4-5 at full depth: endpoint eccentricity 4, center 2;
    // at maxDepth 2 the endpoints CAP at 2 and reach only 3 nodes
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("ua", "ub")
    val full = Graph.eccFromLevels(
      Graph.bfsLevelsFromPairs(pairs, nSources = 5, maxDepth = 4))
      .as[(Long, Long, Long)].collect().toSeq
    assert(full == Seq((1L, 4L, 5L), (2L, 3L, 5L), (3L, 2L, 5L),
      (4L, 3L, 5L), (5L, 4L, 5L)))
    val capped = Graph.eccFromLevels(
      Graph.bfsLevelsFromPairs(pairs, nSources = 5, maxDepth = 2))
      .as[(Long, Long, Long)].collect().toSeq
    assert(capped == Seq((1L, 2L, 3L), (2L, 2L, 4L), (3L, 2L, 5L),
      (4L, 2L, 4L), (5L, 2L, 3L)))
    Caches.releaseAll()
  }

  test("graphReach: path graph cumulative pair counts and reach ppm") {
    // path 1-2-3-4-5, 5 sources: pairs at distance exactly l are
    // 5, 8, 6, 4, 2 (directed), cum 5/13/19/23/25 over a 25-pair
    // denominator — the curve ends at exactly 1e6 ppm (connected
    // graph, depth = diameter).
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("ua", "ub")
    val lv = Graph.bfsLevelsFromPairs(pairs, nSources = 5, maxDepth = 4)
    val r = Graph.reachFromLevels(lv, pairs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((0L, 5L, 5L, 200000L), (1L, 8L, 13L, 520000L),
      (2L, 6L, 19L, 760000L), (3L, 4L, 23L, 920000L),
      (4L, 2L, 25L, 1000000L)))
    Caches.releaseAll()
  }

  test("linkPredict: diamond predicts both diagonals, never an edge") {
    // square 1-2-4-3-1: only (1,4) and (2,3) share neighbors and are
    // non-adjacent — cn=2, AA = 2·(1e6 div bits(deg 2)=1) = 2e6,
    // Jaccard = 2/(2+2−2) = 1e6. Every existing edge is excluded.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("ua", "ub")
    val r = Graph.linkPredictFromPairs(pairs, topK = 20)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 4L, 2L, 2000000L, 1000000L),
      (2L, 3L, 2L, 2000000L, 1000000L)))
    Caches.releaseAll()
  }

  test("linkPredict: Adamic-Adar downweights the hub shared neighbor") {
    // hub 5 — {1,2,3,4}; rare neighbor 6 — {1,2}. The (1,2) pair
    // shares hub (deg 4 → bits 2 → 500000) + rare (deg 2 → bits 1 →
    // 1e6) = 1.5e6; (5,6) shares {1,2} (deg 2 each) = 2e6; every
    // other pair shares the hub only at 500000. Ranking: cn desc,
    // then AA — (5,6) and (1,2) lead the cn=1 crowd.
    val pairs = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L),
      (1L, 6L), (2L, 6L)).toDF("ua", "ub")
    val r = Graph.linkPredictFromPairs(pairs, topK = 20)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.take(2) == Seq((5L, 6L, 2L, 2000000L, 500000L),
      (1L, 2L, 2L, 1500000L, 1000000L)))
    assert(r.drop(2) == Seq(
      (1L, 3L, 1L, 500000L, 500000L), (1L, 4L, 1L, 500000L, 500000L),
      (2L, 3L, 1L, 500000L, 500000L), (2L, 4L, 1L, 500000L, 500000L),
      (3L, 4L, 1L, 500000L, 1000000L)))
    Caches.releaseAll()
  }

  test("linkPredict end-to-end: pendant pairs with the far triangle " +
    "corners through the shared bridge") {
    // triangle {1,2,3} + pendant 4 on 1: candidates (2,4) and (3,4)
    // share neighbor 1 (deg 3 → bits 1 → 1e6); Jaccard 1/(2+1−1)
    val r = Graph.linkPredict(trianglePlusPendant)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((2L, 4L, 1L, 1000000L, 500000L),
      (3L, 4L, 1L, 1000000L, 500000L)))
    Caches.releaseAll()
  }
}
