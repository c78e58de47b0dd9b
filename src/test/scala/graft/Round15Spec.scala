package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Round-15 gates: the bitset k-hop BFS must be row-for-row identical to
  * the row-materialized [[Graph.kHopCounts]] it replaces inside
  * Shared.khop3 — on the hand-built path/triangle fixture (where the
  * expected counts are derivable by eye) and on the real sf0.001 order
  * graph with the canonical seed slice (where the g07/g08/g18 oracles
  * lock the consumer outputs).
  */
class Round15Spec extends SparkSpec {

  test("kHopCountsBitset equals kHopCounts on the path+triangle fixture") {
    import spark.implicits._
    // path 1-2-3-4-5 plus triangle 10-11-12, undirected (GraphSpec's
    // fixture — one seed walks, one saturates after a single hop)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("seed")
    val want = Graph.kHopCounts(edges, seeds, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val got = Graph.kHopCountsBitset(edges, seeds, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(got === want)
    assert(got.contains((1L, 3, 1L)))
  }

  test("kHopCountsBitset equals kHopCounts on the sf0.001 order graph " +
      "with a dense seed slice (65+ seeds crosses the 64-bit word " +
      "boundary, so multi-word masks and the bit->seed readoff are " +
      "exercised)") {
    val e = graft.queries.Shared.orderGraphEdges(spark, sf)
    val seeds = e.select(col("src").as("seed")).distinct()
      .filter(col("seed") < 1000000 && col("seed") % 2 === 0)
    assert(seeds.count() >= 65,
      "fixture drift: dense slice no longer crosses a word boundary")
    val want = Graph.kHopCounts(e, seeds, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val got = Graph.kHopCountsBitset(e, seeds, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("kHopCountsBitset falls back to the row form past the 4096-seed " +
      "width guard with identical output") {
    import spark.implicits._
    // a 2-node-per-seed forest: seed i -> i+100000, 4200 seeds crosses
    // the guard; every seed reaches exactly one node at dist 1
    val edges = (0L until 4200L).map(i => (i, i + 100000L))
      .toDF("src", "dst")
    val seeds = (0L until 4200L).toDF("seed")
    val got = Graph.kHopCountsBitset(edges, seeds, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(got.size === 4200)
    assert(got.forall { case (_, dist, n) => dist == 1 && n == 1L })
  }

  test("kHopCountsBitset with an empty seed set returns an empty frame " +
      "with the (seed, dist, n_nodes) schema") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq.empty[Long].toDF("seed")
    val out = Graph.kHopCountsBitset(edges, seeds, k = 3)
    assert(out.columns.toSeq === Seq("seed", "dist", "n_nodes"))
    assert(out.count() === 0L)
  }
}
