package graftbench

import scala.collection.mutable

/** Single-threaded driver-side references and the checks that compare a
  * pass's collected outputs against them. */
object Reference {

  /** An edge list over dense vertex indices. */
  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int], val w: Array[Double]) {
    def n: Int = ids.length
  }

  /** Vertices are every id in `edges`; parallel edges collapse into one
    * edge whose weight is their count (each input edge weighs 1). */
  def graph(edges: Array[(Long, Long)]): Graph = {
    val ids = edges.iterator.flatMap { case (s, d) => Iterator(s, d) }.toArray.distinct.sorted
    val index = mutable.HashMap.empty[Long, Int]
    ids.indices.foreach(i => index(ids(i)) = i)
    val pairs = edges.map { case (s, d) => (index(s), index(d)) }
    val weighted = pairs.groupMapReduce(identity)(_ => 1.0)(_ + _).toArray
    new Graph(ids, weighted.map(_._1._1), weighted.map(_._1._2), weighted.map(_._2))
  }

  /** graft.graph.PageRank semantics: uniform teleport, dangling mass
    * spread uniformly, `numIter` synchronous rounds. */
  def pageRank(g: Graph, d: Double, numIter: Int): Map[Long, Double] = {
    val n = g.n
    val outW = new Array[Double](n)
    g.src.indices.foreach(e => outW(g.src(e)) += g.w(e))
    val dangling = (0 until n).filter(outW(_) == 0.0)
    var r = Array.fill(n)(1.0 / n)
    var dm = dangling.map(r).sum
    (1 to numIter).foreach { _ =>
      val c = new Array[Double](n)
      g.src.indices.foreach(e => c(g.dst(e)) += g.w(e) / outW(g.src(e)) * r(g.src(e)))
      r = Array.tabulate(n)(v => (1.0 - d) / n + d * (c(v) + dm / n))
      dm = dangling.map(r).sum
    }
    g.ids.indices.map(v => g.ids(v) -> r(v)).toMap
  }

  /** graft.recommendation.Swing semantics for single anchor items, computed
    * from the distinct (user, item) pairs of the behavior table. */
  final class Swing(pairs: Array[(Long, Long)], minBehavior: Int, maxBehavior: Int,
      cap: Int, alpha1: Int, alpha2: Int, beta: Double, seed: Long) {
    private val itemsOf: Map[Long, Array[Long]] =
      pairs.groupMap(_._1)(_._2).map { case (u, is) => u -> is.distinct.sorted }
    private val usersOf: Map[Long, Array[Long]] =
      pairs.groupMap(_._2)(_._1).map { case (i, us) => i -> us.distinct }
    private def qualifies(u: Long) = {
      val c = itemsOf(u).length
      c >= minBehavior && c <= maxBehavior
    }
    // the operator's deterministic purchaser ranking: xxhash64(u, seed)
    // with Spark's default hash seed 42, ties broken by the user id
    private def rankKey(u: Long): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(seed,
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(u, 42L))
    private def weight(u: Long) = 1.0 / math.pow(alpha1 + itemsOf(u).length, beta)

    def items: Seq[Long] = usersOf.keys.toSeq.sorted
    def hottest: Long = usersOf.maxBy { case (i, us) => (us.length, -i) }._1

    /** Every similar item's score for anchor `i`. */
    def scores(i: Long): Map[Long, Double] = {
      val all = usersOf.getOrElse(i, Array.empty[Long])
      val qualified = all.filter(qualifies)
      val capped =
        if (all.length > cap) qualified.sortBy(u => (rankKey(u), u)).take(cap) else qualified
      val out = mutable.HashMap.empty[Long, Double]
      var a = 0
      while (a < capped.length) {
        val ia = itemsOf(capped(a))
        var b = a + 1
        while (b < capped.length) {
          val ib = itemsOf(capped(b))
          val shared = intersect(ia, ib)
          val s = weight(capped(a)) * weight(capped(b)) / (alpha2 + shared.length)
          shared.foreach(x => if (x != i) out(x) = out.getOrElse(x, 0.0) + s)
          b += 1
        }
        a += 1
      }
      out.toMap
    }

    private def intersect(x: Array[Long], y: Array[Long]): Array[Long] = {
      val buf = mutable.ArrayBuilder.make[Long]
      var p = 0; var q = 0
      while (p < x.length && q < y.length) {
        if (x(p) == y(q)) { buf += x(p); p += 1; q += 1 }
        else if (x(p) < y(q)) p += 1
        else q += 1
      }
      buf.result()
    }
  }

  def topK(scores: Map[Long, Double], k: Int): Seq[(Long, Double)] =
    scores.toSeq.sortBy { case (sim, s) => (-s, sim) }.take(k)

  // ------------------------------------------------------------ checks

  private def first(msgs: Iterator[String]): Seq[String] = msgs.take(3).toSeq

  def sameKeys[V](what: String, got: Map[Long, V], want: Map[Long, V]): Seq[String] =
    if (got.size == want.size && got.keySet == want.keySet) Nil
    else Seq(s"$what: ${got.size} rows with ${(got.keySet -- want.keySet).size} unexpected ids, " +
      s"expected ${want.size}")

  def exact[V](what: String, got: Map[Long, V], want: Map[Long, V]): Seq[String] =
    sameKeys(what, got, want) ++ first(want.iterator.collect {
      case (k, v) if got.get(k).exists(_ != v) => s"$what: id $k got ${got(k)}, expected $v"
    })

  def within(what: String, got: Map[Long, Seq[Double]], want: Map[Long, Seq[Double]],
      tol: Double): Seq[String] =
    sameKeys(what, got, want) ++ first(want.iterator.collect {
      case (k, v) if got.get(k).exists(g => g.length != v.length ||
          g.zip(v).exists { case (a, b) => !(math.abs(a - b) <= tol) }) =>
        s"$what: id $k got ${got(k).mkString(",")}, expected ${v.mkString(",")} (tol $tol)"
    })

  /** Swing top-k lists of the sampled anchors: same length, the same score
    * at every rank, and every listed neighbour's score equal to the
    * reference's score for it (so near-ties may swap, wrong items may not). */
  def topKMatches(got: Map[Long, Seq[(Long, Double)]], want: Map[Long, Map[Long, Double]],
      k: Int, tol: Double): Seq[String] =
    first(want.iterator.flatMap { case (i, all) =>
      val expected = topK(all, k)
      val g = got.getOrElse(i, Nil)
      if (g.length != expected.length)
        Iterator(s"swing: item $i has ${g.length} neighbours, expected ${expected.length}")
      else g.zip(expected).iterator.collect {
        case ((sim, s), (_, es)) if !(math.abs(s - es) <= tol) ||
            !all.get(sim).exists(r => math.abs(r - s) <= tol) =>
          s"swing: item $i neighbour $sim score $s, reference ${all.get(sim)}, rank score $es"
      }
    })
}
