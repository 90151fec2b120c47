package graft.operators

import graft.SparkSpecBase

class DedupGroupsSpec extends SparkSpecBase {
  import spark.implicits._

  test("canonicalize finds component minima across multi-hop chains") {
    // components: {1,2,3} via chain, {5,6}, chain 10-11-12-13 (diameter 3)
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("a", "b")
    val canon = DedupGroups.canonicalize(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("keepDecisions keeps singletons and component minima only") {
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (6L, 7L)).toDF("a", "b")
    val kept = DedupGroups.keepDecisions(docs, "doc_id", pairs, "a", "b")
      .filter($"keep").select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L, 8L))
  }

  test("driver union-find path ≡ distributed loop path (gate forced)") {
    // mixed shapes: clique {1,2,3}, chain 10..13 (contracted to a chain of
    // labels), bridge edge joining two cliques, singleton pair, self-dup
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 30L), (30L, 31L), (31L, 32L),
      (40L, 41L),
      (50L, 51L), (51L, 50L)).toDF("a", "b")
    val viaDriver = DedupGroups.canonicalize(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    val viaLoop = DedupGroups.canonicalize(pairs, "a", "b", driverEdgeGate = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
    assert(viaDriver(32L) == 20L) // bridged cliques share one minimum
  }

  test("driver/loop equivalence on a seeded random graph") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(600)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("a", "b")
    val viaDriver = DedupGroups.canonicalize(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    val viaLoop = DedupGroups.canonicalize(pairs, "a", "b", driverEdgeGate = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
    // every canonical id is a member of its own component and minimal
    viaDriver.groupBy(_._2).foreach { case (canon, members) =>
      assert(members.keySet.min == canon)
    }
  }

  test("raw-pair / contracted-driver / distributed paths agree (round 14)") {
    // 600 random edges over 200 nodes: the DEFAULT gate takes the raw-
    // pair driver path; a gate between the raw count and the contracted
    // edge count forces the clique-contraction + driver union-find
    // path; gate 0 forces the distributed loop. All three must agree.
    // The same graph again with pairs that have a null endpoint: they
    // are no edges, so they change no path's result (vertex 900 appears
    // only in such pairs).
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(600)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val nullPairs = Seq((Some(7L), None), (None, Some(900L)), (None, None))
    val graphs = Seq(edges.toDF("a", "b"),
      (edges.map { case (a, b) => (Option(a), Option(b)) } ++ nullPairs).toDF("a", "b"))
    // the raw path must still cover EVERY doc appearing in a pair
    val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
    graphs.foreach { pairs =>
      val raw = DedupGroups.canonicalize(pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
      val contracted = DedupGroups.canonicalize(pairs, "a", "b",
        driverEdgeGate = 300).as[(Long, Long)].collect().toMap
      val loop = DedupGroups.canonicalize(pairs, "a", "b", driverEdgeGate = 0)
        .as[(Long, Long)].collect().toMap
      assert(raw == contracted)
      assert(raw == loop)
      assert(raw.keySet == verts)
    }
  }

  test("unionFindAll emits every vertex, roots mapped to themselves") {
    val m = DedupGroups.unionFindAll(Iterator((5L, 9L), (9L, 2L), (7L, 8L)))
    assert(m == Map(5L -> 2L, 9L -> 2L, 2L -> 2L, 7L -> 7L, 8L -> 7L))
  }

  test("unionFindMin maps every member to its component minimum") {
    val m = DedupGroups.unionFindMin(Iterator((5L, 9L), (9L, 2L), (7L, 8L)))
    assert(m.getOrElse(5L, 5L) == 2L)
    assert(m.getOrElse(9L, 9L) == 2L)
    assert(m.getOrElse(2L, 2L) == 2L)
    assert(m.getOrElse(8L, 8L) == 7L)
    assert(m.getOrElse(7L, 7L) == 7L)
  }

  test("result is independent of pair orientation and partitioning") {
    val pairs = Seq((3L, 9L), (9L, 4L), (4L, 12L)).toDF("a", "b")
    val flipped = Seq((9L, 3L), (4L, 9L), (12L, 4L)).toDF("a", "b")
      .repartition(7)
    val x = DedupGroups.canonicalize(pairs, "a", "b")
      .as[(Long, Long)].collect().toSet
    val y = DedupGroups.canonicalize(flipped, "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(x == y)
    assert(x.forall(_._2 == 3L)) // component min
  }
}
