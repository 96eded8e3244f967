package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SetSimJoinSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private val rows = Seq(
    (1L, Seq("a", "b", "c", "d")),
    (2L, Seq("a", "b", "c", "e")),      // J(1,2) = 3/5 = 0.6
    (3L, Seq("x", "y", "z")),           // J with 1,2 = 0
    (4L, Seq("a", "b", "c", "d")),      // J(1,4) = 1.0
    (5L, Seq("b", "c", "d", "e", "f"))  // J(1,5)=3/6=0.5, J(2,5)=3/6=0.5
  ).toDF("id", "st")

  private def bruteForce(tau: Double): Set[(Long, Long)] = {
    val sets = rows.collect().map(r =>
      r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = (sets(a) & sets(b)).size
      u = (sets(a) | sets(b)).size
      if i.toDouble / u >= tau
    } yield (a, b)).toSet
  }

  test("finds exactly the brute-force pairs at tau=0.5 (recall 1.0)") {
    val got = SetSimJoin.jaccardSelfJoin(rows, "id", "st", 0.5).df
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == bruteForce(0.5))
    assert(got == Set((1L, 2L), (1L, 4L), (1L, 5L), (2L, 5L),
      (2L, 4L), (4L, 5L)))
  }

  test("inter/union/jac arithmetic is exact") {
    val r = SetSimJoin.jaccardSelfJoin(rows, "id", "st", 0.55).df
      .orderBy("a", "b").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j12 = r(0)
    assert(j12.getLong(2) == 3 && j12.getLong(3) == 5 &&
      j12.getDouble(4) == 0.6)
  }

  test("tau=1.0 degenerates to exact-duplicate pairs (prefix length 1)") {
    val got = SetSimJoin.jaccardSelfJoin(rows, "id", "st", 1.0).df
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 4L)))
  }

  test("input multisets are de-duplicated before comparison") {
    val dupes = Seq((1L, Seq("a", "a", "b")), (2L, Seq("a", "b", "b")))
      .toDF("id", "st")
    val r = SetSimJoin.jaccardSelfJoin(dupes, "id", "st", 0.9).df.collect()
    assert(r.length == 1 && r(0).getDouble(4) == 1.0)
  }

  test("construction runs NO Spark job (deferred; r5 verdict #5), and " +
    "release() drops the intermediate caches") {
    val (pairs, m) = org.apache.spark.sql.graft.Meter(spark.sparkContext)(
      SetSimJoin.jaccardSelfJoin(rows, "id", "st", 0.5))
    assert(m.jobs == 0, s"construction must not execute jobs, ran ${m.jobs}")
    pairs.df.count()
    pairs.release()
    // the released intermediates are gone; the result itself stays
    // cached and still answers
    assert(pairs.df.count() > 0)
  }

  test("checkpointed variants match the lazy path and return a plan " +
    "LEAF (r11 verdict #2: plan tree O(stages), not O(stages x reuse))") {
    val ck = SetSimJoin.jaccardSelfJoinCheckpointed(rows, "id", "st", 0.5)
    assert(ck.select("a", "b").as[(Long, Long)].collect().toSet ==
      bruteForce(0.5))
    // the whole pipeline sits behind a localCheckpoint barrier: the
    // returned frame's plan is a single LogicalRDD leaf, so downstream
    // consumers never re-inline (or re-optimize) the pipeline subtree
    assert(ck.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"expected a LogicalRDD leaf, got:\n${ck.queryExecution.analyzed}")
    val data = Seq(
      (10L, Seq("a", "b", "c")),
      (11L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")),
      (12L, Seq("x", "y", "z"))).toDF("id", "st")
    val cont = SetSimJoin.containmentSelfJoinCheckpointed(data, "id", "st", 0.9)
    assert(cont.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(cont.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq ==
      Seq((10L, 11L, 3L, 3L, 1.0)))
  }

  test("containment finds the subset-dup pair Jaccard misses") {
    // set 10 is wholly contained in set 11 (C = 1.0) but J = 3/10 < 0.5
    val data = Seq(
      (10L, Seq("a", "b", "c")),
      (11L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")),
      (12L, Seq("x", "y", "z"))
    ).toDF("id", "st")
    val jac = SetSimJoin.jaccardSelfJoin(data, "id", "st", 0.5).df
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(jac.isEmpty)
    val cont = SetSimJoin.containmentSelfJoin(data, "id", "st", 0.9).df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(cont.toSeq == Seq((10L, 11L, 3L, 3L, 1.0)))
  }

  test("containment matches brute force (ordered pairs, recall 1.0) on " +
    "a 120-set random corpus") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"t$i")
    val corpus = (0L until 120L).map { id =>
      (id, rnd.shuffle(vocab).take(3 + rnd.nextInt(10)))
    } ++ Seq(
      (200L, Seq("t1", "t2", "t3")),
      (201L, (1 to 20).map(i => s"t${i % 40}")),  // contains 200
      (202L, Seq("t1", "t2", "t3", "t4")))
    val df = corpus.toDF("id", "st")
    val sets = corpus.map { case (i, s) => i -> s.toSet }.toMap
    val tau = 0.6
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a != b
      i = (sets(a) & sets(b)).size
      if i.toDouble / sets(a).size >= tau
    } yield (a, b)).toSet
    val got = SetSimJoin.containmentSelfJoin(df, "id", "st", tau).df
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("positional filter keeps recall 1.0 on a 120-set random corpus " +
    "with heavy-overlap cliques") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 60).map(i => s"t$i")
    val corpus = (0L until 120L).map { id =>
      val base = rnd.shuffle(vocab).take(4 + rnd.nextInt(8))
      (id, base)
    } ++ Seq(
      (200L, Seq("t1", "t2", "t3", "t4", "t5")),
      (201L, Seq("t1", "t2", "t3", "t4", "t6")),   // J = 4/6
      (202L, Seq("t1", "t2", "t3", "t4", "t5")))   // J(200,202) = 1
    val df = corpus.toDF("id", "st")
    val sets = corpus.map { case (i, s) => i -> s.toSet }.toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = (sets(a) & sets(b)).size
      u = (sets(a) | sets(b)).size
      if u > 0 && i.toDouble / u >= 0.4
    } yield (a, b)).toSet
    val got = SetSimJoin.jaccardSelfJoin(df, "id", "st", 0.4).df
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"missing=${brute -- got} extra=${got -- brute}")
  }
}
