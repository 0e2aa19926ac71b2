package graft

import graft.operators.Graph

class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("pageRank: symmetric 2-cycle stays at the uniform fixed point") {
    val e = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    val r = Graph.pageRank(e, "s", "d", damping = 0.75, iters = 7)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("a") === 0.5 && r("b") === 0.5)
  }

  test("pageRank matches a driver-local power iteration on a 4-node graph") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a"))
    val r = Graph.pageRank(edges.toDF("s", "d"), "s", "d",
        damping = 0.85, iters = 6)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // local recompute, same fixed-iteration formula (dangling mass leaks)
    val nodes = Seq("a", "b", "c", "d")
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var rank = nodes.map(_ -> 1.0 / 4).toMap
    for (_ <- 1 to 6) {
      val inflow = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / out(s) }.sum).toMap
      rank = nodes.map(v => v -> (0.15 / 4 + 0.85 * inflow.getOrElse(v, 0.0))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(r(v) - rank(v)) < 5e-7, s"$v: ${r(v)} vs ${rank(v)}")
    }
    // d has no in-links: floor rank only
    assert(r("d") === (math.rint((0.15 / 4) * 1e6) / 1e6))
  }

  test("triangleCounts: K4 has 4 triangles with every node in 3; squares have none") {
    // K4 on 1..4 (+ reversed/duplicate edges to exercise canonicalization),
    // plus a 4-cycle 10-11-12-13 (no triangles), plus isolated edge 20-21
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val square = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
    val e = (k4 ++ square ++ Seq((20L, 21L))).toDF("s", "d")
    val r = Graph.triangleCounts(e, "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore peels cascading tails, keeps the clique") {
    // 4-clique {1,2,3,4} with a chain 4-5-6: removing 6 (deg 1) drops
    // 5 to deg 1 — the peel must CASCADE, not stop after one round
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = (clique ++ Seq((4L, 5L), (5L, 6L))).toDF("s", "d")
    val core2 = Graph.kCore(e, "s", "d", k = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(core2 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=4 empties the graph entirely (max degree in the clique is 3)
    assert(Graph.kCore(e, "s", "d", k = 4).count() === 0)
    // k=1 keeps everything with original degrees
    val core1 = Graph.kCore(e, "s", "d", k = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(core1 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 2L, 6L -> 1L))
  }

  test("bfsLevels: hop distances on a path with a shortcut") {
    // path 1-2-3-4-5 plus shortcut 1-4; node 9 unreachable island 9-10
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (9L, 10L))
      .toDF("s", "d")
    val r = Graph.bfsLevels(e, "s", "d", source = 1L)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(r === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("pageRank with replicated loop pins returns the same ranks") {
    // spark.graft.pins.replicated=true swaps localCheckpoint for a
    // 2x-replicated persist (fault tolerance at cluster scale); the
    // arithmetic and the results must be bit-identical either way
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val plain = Graph.pageRank(e, "s", "d", iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val replicated = Engine.withConf(spark, "spark.graft.pins.replicated" -> "true") {
      Graph.pageRank(e, "s", "d", iters = 4)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    }
    assert(plain === replicated)
  }
}
