package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EntityResolverSpec extends SparkSpec {

  private def resolver = new EntityResolver().setIdCol("id").setInputCol("s")

  test("transitive closure: chain at k=1 resolves to one entity") {
    import spark.implicits._
    // jon~john~johnn are a distance-1 chain (jon<->johnn is distance 2);
    // the closure must still put all three in one entity
    val df = Seq((1L, "jon"), (2L, "john"), (3L, "johnn"),
      (4L, "mary"), (5L, "marie")).toDF("id", "s")
    val out = resolver.setMaxDistance(1).transform(df).head
      .select("id", "entity_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("differential vs brute-force closure on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def word(): String = {
      val n = 2 + rnd.nextInt(8)
      Array.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
    }
    val rows = (0 until 60).map(i => (i.toLong, word()))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // brute-force union-find over all distance<=1 pairs
    val parent = Array.tabulate(rows.size)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (i <- rows.indices; j <- i + 1 until rows.size
         if lev(rows(i)._2, rows(j)._2) <= 1) {
      val (a, b) = (find(i), find(j)); if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val expected = rows.indices.map(i => i.toLong -> {
      // canonical = minimum id in the component
      val root = find(i)
      rows.indices.filter(find(_) == root).min.toLong
    }).toMap
    val got = resolver.setMaxDistance(1).transform(rows.toDF("id", "s")).head
      .select("id", "entity_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"diff=${(expected.toSet -- got.toSet).take(5)} / ${(got.toSet -- expected.toSet).take(5)}")
  }

  test("all input columns survive; rows and schema are preserved") {
    import spark.implicits._
    val df = Seq((1L, "abc", "x"), (2L, "abd", "y"), (3L, "zzz", "z"))
      .toDF("id", "s", "extra")
    val out = resolver.setMaxDistance(1).transform(df).head
    assert(out.columns.toSeq == Seq("id", "s", "extra", "entity_id"))
    assert(out.count() == 3)
    assert(out.where(col("entity_id") === 1L).count() == 2)
  }

  test("nothing outlives transform() plus the caller's unpersist") {
    import spark.implicits._
    val df = Seq((1L, "jon"), (2L, "john"), (3L, "johnn"), (4L, "mary")).toDF("id", "s")
    val residue = residueOf {
      val out = resolver.setMaxDistance(1).transform(df).head
      assert(out.where(col("entity_id") === 1L).count() == 3)
      out.unpersist(blocking = true)
    }
    assert(residue == (Set.empty, false), s"transform + unpersist left (RDDs, cache entry) $residue")
  }

  test("guards: duplicate ids and entityCol collisions are rejected") {
    import spark.implicits._
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "s")
    val e1 = intercept[IllegalArgumentException] {
      resolver.transform(dup).head.collect()
    }
    assert(e1.getMessage.contains("not unique"))
    val clash = Seq((1L, "a", 9L)).toDF("id", "s", "entity_id")
    val e2 = intercept[IllegalArgumentException] {
      resolver.transform(clash).head.collect()
    }
    assert(e2.getMessage.contains("entity_id"))
  }

  test("param save/load round-trip") {
    val dir = tmpDir()
    resolver.setMaxDistance(2).setGramLength(3).setEntityCol("eid").save(dir)
    val back = EntityResolver.load(spark, dir)
    assert(back.getMaxDistance == 2 && back.getGramLength == 3 &&
      back.getEntityCol == "eid" && back.getIdCol == "id")
  }
}
