package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.queries.DedupQueries

/** `DedupQueries.connectedComponents` against an independent closure:
  * a breadth-first search over an adjacency map, each component labeled
  * with its min id. Graph shapes cover what the union-find must get
  * right whatever the edge order: random sparse and dense graphs, long
  * chains in shuffled order with both edge directions, stars centred on
  * the min, max and a middle id, repeated and reversed edges, the empty
  * graph and `Int`-typed id columns. */
class ComponentsSpec extends SparkSpec {

  /** The reference: node → min id of its component, by BFS. */
  private def bfsLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val label = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.foreach { start =>
      if (!label.contains(start)) {
        val seen = scala.collection.mutable.LinkedHashSet(start)
        val queue = scala.collection.mutable.Queue(start)
        while (queue.nonEmpty)
          adj(queue.dequeue()).foreach(n => if (seen.add(n)) queue.enqueue(n))
        val min = seen.min
        seen.foreach(label(_) = min)
      }
    }
    label.toMap
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect()
    val m = rows.map(r => r.getAs[Number]("doc_id").longValue ->
      r.getAs[Long]("cluster_id")).toMap
    assert(m.size == rows.length, "a node is labeled twice")
    m
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    // four partitions, so edges of one component reach the driver in
    // several blocks
    val got = labelsOf(DedupQueries.connectedComponents(
      edges.toDF("doc_a", "doc_b").repartition(4)))
    assert(got == bfsLabels(edges))
  }

  test("connected components: seeded random graphs match a BFS closure") {
    // sparse (many small components) to dense (a few large ones), ids
    // spread over a wide range so positions and ids differ
    Seq(1L, 2L, 3L, 4L, 5L, 6L).foreach { seed =>
      val r = new Random(seed)
      val nodes = Array.fill(200)(r.nextLong() & ((1L << 50) - 1))
      val nEdges = Seq(40, 120, 400)((seed % 3).toInt)
      // self-loops included: such a node is its own component
      check(Seq.fill(nEdges)(
        (nodes(r.nextInt(nodes.length)), nodes(r.nextInt(nodes.length)))))
    }
  }

  test("connected components: 2^k-long chains in shuffled order, k up to 12") {
    (1 to 12).foreach { k =>
      val r = new Random(k)
      val ids = r.shuffle((0L until (1L << k) + 1).map(_ * 7 + 3))
      val links = ids.zip(ids.tail).map { case (a, b) =>
        if (r.nextBoolean()) (a, b) else (b, a)
      }
      check(r.shuffle(links))
    }
  }

  test("connected components: stars centred on the min, max and a middle id") {
    val leaves = (100L until 300L).filter(_ != 200L)
    Seq(50L, 200L, 900L).foreach { centre =>
      check(leaves.map(l => if (l % 2 == 0) (centre, l) else (l, centre)))
    }
  }

  test("connected components: repeated and reversed edges change nothing") {
    import spark.implicits._
    val base = Seq((5L, 9L), (9L, 12L), (30L, 31L), (44L, 40L))
    val noisy = base ++ base ++ base.map(_.swap) ++ Seq((12L, 5L), (31L, 30L))
    check(noisy)
    assert(labelsOf(DedupQueries.connectedComponents(
      noisy.toDF("doc_a", "doc_b"))) ==
      Map(5L -> 5L, 9L -> 5L, 12L -> 5L, 30L -> 30L, 31L -> 30L,
        40L -> 40L, 44L -> 40L))
  }

  test("connected components: an empty graph gives an empty table") {
    import spark.implicits._
    val out = DedupQueries.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("doc_id", "cluster_id"))
  }

  test("connected components: Int-typed ids keep their type, labels are long") {
    import spark.implicits._
    val edges = Seq((3, 1), (1, 2), (7, 8), (Int.MaxValue, 8))
    val out = DedupQueries.connectedComponents(edges.toDF("doc_a", "doc_b"))
    assert(out.schema("doc_id").dataType == IntegerType)
    assert(out.schema("cluster_id").dataType == LongType)
    assert(labelsOf(out) ==
      bfsLabels(edges.map { case (a, b) => (a.toLong, b.toLong) }))
  }
}
