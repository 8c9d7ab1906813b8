package cdcbench

import java.util.SplittableRandom

/** The benchmark's own tests: the model's key and ordering rules, the
  * generator's determinism, and the interval attribution. Run with
  * `python3 cdcbench/run.py --selftest`. */
object SelfTest {
  private var n = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    n += 1
    if (!cond) throw new AssertionError(s"selftest failed: $name")
    System.err.println(s"ok - $name")
  }

  private val plain = TableSpec("db", "t", Seq("id"),
    Seq(Field("id", "long"), Field("v", "string")), keySpace = 10, buckets = 2,
    row = (id, _) => Map("id" -> id, "v" -> "x"))
  private val composite = plain.copy(name = "c", keyFields = Seq("region", "id"),
    fields = Seq(Field("id", "long"), Field("region", "string"), Field("v", "string")))
  private val tied = plain.copy(name = "s", tiebreak = Some("seq"),
    fields = Seq(Field("id", "long"), Field("seq", "long"), Field("v", "string")))

  def main(args: Array[String]): Unit = {
    check("key is md5 of db_table_fields") {
      Model.keyOf(plain, Map("id" -> 7L)) == Model.hex("db_t_7")
    }
    check("a missing key field keys as the literal null") {
      Model.keyOf(composite, Map("id" -> 7L)) == Model.hex("db_c_null_7") &&
        Model.keyOf(composite, Map("id" -> 7L, "region" -> null)) == Model.hex("db_c_null_7")
    }
    check("raw text omits absent fields, keeps declared order") {
      Rec(composite, 1, delete = false, Map("v" -> "a", "id" -> 3L)).raw == """{"id":3,"v":"a"}"""
    }
    check("later _ts wins") {
      val a = Rec(plain, 5, delete = false, Map("id" -> 1L, "v" -> "z"))
      val b = Rec(plain, 6, delete = false, Map("id" -> 1L, "v" -> "a"))
      Model.later(a, b) == b && Model.later(b, a) == b
    }
    check("equal _ts: numeric tiebreak, greatest wins, not lexicographic") {
      val a = Rec(tied, 5, delete = false, Map("id" -> 1L, "seq" -> 9L, "v" -> "z"))
      val b = Rec(tied, 5, delete = false, Map("id" -> 1L, "seq" -> 10L, "v" -> "a"))
      Model.later(a, b) == b
    }
    check("equal _ts and tiebreak: raw text decides") {
      val a = Rec(tied, 5, delete = false, Map("id" -> 1L, "seq" -> 3L, "v" -> "b"))
      val b = Rec(tied, 5, delete = false, Map("id" -> 1L, "seq" -> 3L, "v" -> "a"))
      Model.later(a, b) == a
    }
    check("delete then reinsert in one batch keeps the row") {
      val m = new Model
      m.applyBatch(Seq(Rec(plain, 1, delete = false, Map("id" -> 1L, "v" -> "old"))))
      m.applyBatch(Seq(
        Rec(plain, 2, delete = true, Map("id" -> 1L, "v" -> "old")),
        Rec(plain, 3, delete = false, Map("id" -> 1L, "v" -> "new"))))
      m.state(plain).get(Model.keyOf(plain, Map("id" -> 1L))).map(_.values("v")).contains("new")
    }
    check("insert then delete in one batch removes the row") {
      val m = new Model
      m.applyBatch(Seq(
        Rec(plain, 2, delete = false, Map("id" -> 1L, "v" -> "x")),
        Rec(plain, 3, delete = true, Map("id" -> 1L, "v" -> "x"))))
      m.state(plain).isEmpty
    }
    check("digest is order independent") {
      val m = new Model
      m.applyBatch((0 until 5).map(i => Rec(plain, 1, delete = false, Map("id" -> i.toLong, "v" -> s"v$i"))))
      val rows = m.state(plain).toSeq.map { case (k, r) =>
        org.apache.spark.sql.Row.fromSeq(Seq(k, r.ts) ++ plain.columns.map(r.values(_)))
      }
      Model.digestRows(plain, rows) == m.digest(plain) &&
        Model.digestRows(plain, rows.reverse) == m.digest(plain)
    }
    check("same seed, same envelopes; another seed, other envelopes") {
      def envs(seed: Long) = {
        val g = new Gen(seed)
        val ts = Workloads.all("cdc_stream").tables
        val z = ts.map(t => t.ident -> new Zipf(t.keySpace, 1.1, g.rnd)).toMap
        (0 until 3).flatMap(_ => g.batch(ts, 200, 0.05, t => z(t.ident).next(g.rnd)).map(Envelopes.render))
      }
      envs(11) == envs(11) && envs(11) != envs(12)
    }
    check("zipf stays in range and is skewed") {
      val r = new SplittableRandom(3)
      val z = new Zipf(100, 1.1, r)
      val xs = (0 until 5000).map(_ => z.next(r))
      xs.forall(x => x >= 0 && x < 100) && xs.groupBy(identity).values.map(_.size).max > 500
    }
    check("shares split overlap evenly and sum to the union") {
      val sh = Intervals.shares(0, 100, Seq((10L, 30L), (20L, 40L), (60L, 70L)))
      sh == Seq(15.0, 15.0, 10.0) && sh.sum == 40.0
    }
    check("shares clip to the parent and nest") {
      val sh = Intervals.shares(10, 50, Seq((0L, 20L), (15L, 60L), (30L, 35L)))
      // [10,15) a; [15,20) a+b; [20,30) b; [30,35) b+c; [35,50) b
      sh == Seq(7.5, 2.5 + 10 + 2.5 + 15, 2.5) &&
        math.abs(sh.sum - 40) < 1e-9
    }
    check("self times of a span tree sum to the root duration (an identity)") {
      val tr = new Tracer(true)
      val g = tr.newGroup()
      val root = tr.open("batch", g)
      val run = tr.open("cdc.run", g, root.id)
      Thread.sleep(30)
      tr.close(run)
      Thread.sleep(5)
      tr.close(root)
      val j1 = new JobRec(1, "lake:write x", run.start + 2); j1.end = run.start + 20
      val j2 = new JobRec(2, null, run.start + 10); j2.end = run.start + 25
      val nodes = tr.tree(root, Seq(j1, j2))
      math.abs(nodes.map(_.self).sum - (root.end - root.start)) < 1e-6 &&
        nodes.count(_.job.nonEmpty) == 2 &&
        nodes.find(_.name == "job:write").nonEmpty && nodes.find(_.name == "job:unlabelled").nonEmpty
    }
    check("a job set that differs from the span tags is reported") {
      val tr = new Tracer(true)
      val root = new Span(1, "batch", 1, 0, 0, 100)
      val run = new Span(2, "cdc.run", 1, 1, 10, 90)
      val spans = Seq(root, run)
      def job(id: Int, desc: String, tag: Int) = { val j = new JobRec(id, desc, 20 + id, tag); j.end = 30 + id; j }
      val agree = Seq(job(1, "lake:write x", 2), job(2, null, 2))
      // job 2 ran inside the batch but no span of it submitted it
      val stray = Seq(job(1, "lake:write x", 2), job(2, null, 0))
      tr.problems(root, agree, tr.tree(root, agree, spans)).isEmpty &&
        tr.problems(root, stray, tr.tree(root, stray, spans)) ==
          Seq("batch: tree holds jobs unlabelled=1,write=1, tags say write=1")
    }
    check("a span overlapping its sibling shows a negative self time") {
      val tr = new Tracer(true)
      val root = new Span(1, "op", 1, 0, 0, 100)
      val a = new Span(2, "a", 1, 1, 10, 60)
      val b = new Span(3, "b", 1, 1, 40, 90)
      // a's share of the root is 30 + 20/2 = 40 ms; its job covers 50
      val j = new JobRec(1, "lake:write x", 10, 2); j.end = 60
      val nodes = tr.tree(root, Seq(j), Seq(root, a, b))
      nodes.find(_.name == "a").exists(n => math.abs(n.self + 10) < 1e-9) &&
        tr.problems(root, Seq(j), nodes) == Seq("op > a: self -10.0 ms")
    }
    check("tail is the highest percentile with ten samples beyond it") {
      Stats.tailPercentile(10) == 100 && Stats.tailPercentile(19) == 100 &&
        Stats.tailPercentile(20) == 50 &&
        Stats.tailPercentile(100) == 90 && Stats.tail((1 to 100).map(_.toDouble)) == 90.0
    }
    System.err.println(s"$n checks passed")
  }
}
