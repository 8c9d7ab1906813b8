package cdcbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Column of a generated table: name and in-band type (`long` or `string`). */
final case class Field(name: String, kind: String)

/** One lake table the benchmark writes. Everything the program sees about
  * it goes out as sink/relation options built from this spec.
  *
  * `derived` models a `<SRC>` transformer: extra columns computed from the
  * decoded payload, with the SQL the program runs and the model's own
  * implementation of it.
  */
final case class TableSpec(
    db: String,
    name: String,
    keyFields: Seq[String],
    fields: Seq[Field],
    keySpace: Int,
    buckets: Int,
    tiebreak: Option[String] = None,
    transformerSql: Option[String] = None,
    derived: Seq[(String, Map[String, Any] => Any)] = Nil,
    partition: Seq[String] = Nil,
    tableType: String = "cow",
    compactAfter: Int = 8,
    statsColumns: Seq[String] = Nil,
    /** Key fields left out of this share of generated rows (keyed "null"). */
    missingKeyShare: Double = 0.0,
    /** Payload row for an id; partition fields must be a function of id. */
    row: (Long, SplittableRandom) => Map[String, Any]) {

  def ident: String = s"$db.$name"
  def columns: Seq[String] = (fields.map(_.name) ++ derived.map(_._1)).sorted

  lazy val sparkSchemaJson: String = {
    import org.apache.spark.sql.types._
    StructType(fields.map(f =>
      StructField(f.name, if (f.kind == "long") LongType else StringType))).json
  }

  /** Sink options for this table (`<db>.<table>.*`). */
  def sinkOptions(root: String): Map[String, String] = {
    val p = s"$db.$name."
    Map(
      p + "recordkey.field" -> keyFields.mkString(","),
      p + "path" -> path(root),
      p + "buckets" -> buckets.toString,
      p + "table.type" -> tableType,
      p + "compact.deltas" -> compactAfter.toString,
      p + "bloom.enable" -> "true") ++
      tiebreak.map(t => p + "dedup.tiebreak.field" -> t) ++
      transformerSql.map(s => p + "transformer.sql" -> s) ++
      (if (partition.nonEmpty) Map(p + "partition.field" -> partition.mkString(",")) else Map.empty) ++
      (if (statsColumns.nonEmpty) Map(p + "col.stats.columns" -> statsColumns.mkString(","))
       else Map.empty)
  }

  def path(root: String): String = s"$root/lake/$db/$name"
}

/** One CDC record as generated: its envelope metadata and payload. */
final case class Rec(
    table: TableSpec, ts: Long, delete: Boolean, values: Map[String, Any]) {
  /** Compact JSON in declared field order, absent values omitted. This is
    * the exact text Spark hands the pipeline as the record's raw value. */
  lazy val raw: String = table.fields.collect {
    case f if values.contains(f.name) => s""""${f.name}":${Json.value(values(f.name))}"""
  }.mkString("{", ",", "}")
  lazy val key: String = Model.keyOf(table, values)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Double => if (n.isNaN || n.isInfinite) "null" else n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Skewed key chooser: Zipf(s) over `n` ranks, ranks shuffled onto ids so
  * the hot keys land in different buckets. */
final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val ids: Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  def next(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    ids(lo)
  }
}

/** Seeded CDC traffic. Timestamps rise across batches; inside a batch some
  * envelopes repeat the previous timestamp so ties are settled by the
  * tiebreak field or the raw record text. */
final class Gen(seed: Long) {
  val rnd = new SplittableRandom(seed)
  private var ts = 1000000L
  def nextTs(): Long = { ts += 1 + rnd.nextInt(3); ts }

  /** Rows of a full initial load: every id in the key space, one upsert. */
  def bootstrap(t: TableSpec): Seq[Rec] = {
    val at = nextTs()
    (0 until t.keySpace).map(i => Rec(t, at, delete = false, t.row(i.toLong, rnd)))
  }

  /** One batch of `events` records spread over `tables`.
    * `pick` chooses an id in a table's key space. */
  def batch(
      tables: Seq[TableSpec], events: Int, deleteShare: Double,
      pick: TableSpec => Int): Seq[Seq[Rec]] = {
    val envs = mutable.ArrayBuffer.empty[Seq[Rec]]
    var n = 0
    var t0 = nextTs()
    while (n < events) {
      val t = tables(rnd.nextInt(tables.size))
      // 15% of envelopes share the previous timestamp (in-batch ties)
      val at = if (envs.nonEmpty && rnd.nextDouble() < 0.15) t0 else nextTs()
      t0 = at
      val del = rnd.nextDouble() < deleteShare
      val rows = 1 + rnd.nextInt(3)
      val recs = (0 until rows.min(events - n)).map { _ =>
        val id = pick(t).toLong
        Rec(t, at, del, dropKeyField(t, t.row(id, rnd)))
      }
      // delete-then-reinsert inside one batch
      val reinsert =
        if (del && rnd.nextDouble() < 0.3) {
          val again = nextTs()
          t0 = again
          Seq(recs.map(r =>
            Rec(t, again, delete = false, t.row(r.values("id").asInstanceOf[Long], rnd) --
              t.keyFields.filterNot(r.values.contains))))
        } else Nil
      envs += recs
      envs ++= reinsert
      n += recs.size + reinsert.map(_.size).sum
    }
    envs.toSeq
  }

  private def dropKeyField(t: TableSpec, v: Map[String, Any]): Map[String, Any] =
    if (t.missingKeyShare > 0 && rnd.nextDouble() < t.missingKeyShare)
      v - t.keyFields.head
    else v
}

object Envelopes {
  /** One envelope string per record group (same table, op and ts). */
  def render(group: Seq[Rec]): String = {
    val h = group.head
    s"""{"databaseName":${Json.str(h.table.db)},"tableName":${Json.str(h.table.name)},""" +
      s""""schema":${Json.str(h.table.sparkSchemaJson)},"timestamp":${h.ts},""" +
      s""""type":"${if (h.delete) "delete" else "upsert"}","rows":${group.map(_.raw).mkString("[", ",", "]")}}"""
  }
}

/** A stored row in the model: LWW version and full column values. */
final case class MRow(ts: Long, values: Map[String, Any])

/** Independent last-write-wins model of every table the benchmark writes.
  * It shares no code with the program: keys, ordering and delete rules
  * are re-implemented from the documented contract. */
final class Model {
  val tables = mutable.LinkedHashMap.empty[String, mutable.HashMap[String, MRow]]
  /** Per table, key -> index of the write op that last upserted it. */
  val lastWrite = mutable.HashMap.empty[String, mutable.HashMap[String, Int]]
  var writeOps = 0

  def state(t: TableSpec): mutable.HashMap[String, MRow] =
    tables.getOrElseUpdate(t.ident, mutable.HashMap.empty)

  /** Apply one CDC batch; returns the number of winners (one per key). */
  def applyBatch(recs: Seq[Rec]): Int = {
    writeOps += 1
    val winners = recs.groupBy(r => (r.table.ident, r.key)).values.map(_.reduce(Model.later))
    winners.foreach { w =>
      val st = state(w.table)
      if (w.delete) st.remove(w.key)
      else st.get(w.key) match {
        case Some(old) if old.ts > w.ts => // stale upsert loses
        case _ =>
          st(w.key) = MRow(w.ts, Model.withDerived(w.table, w.values))
          lastWrite.getOrElseUpdate(w.table.ident, mutable.HashMap.empty)(w.key) = writeOps
      }
    }
    winners.size
  }

  /** Apply a MERGE source: (key, ts, values, delete) rows, keys unique. */
  def applyMerge(t: TableSpec, rows: Seq[(String, Long, Map[String, Any], Boolean)]): Unit = {
    writeOps += 1
    val st = state(t)
    rows.foreach { case (k, ts, v, del) =>
      if (del) { if (st.contains(k)) st.remove(k) }
      else st.get(k) match {
        case Some(old) if old.ts > ts =>
        case _ =>
          st(k) = MRow(ts, v)
          lastWrite.getOrElseUpdate(t.ident, mutable.HashMap.empty)(k) = writeOps
      }
    }
  }

  /** (row count, order-independent hash) of a table or of a subset. */
  def digest(t: TableSpec, keep: MRow => Boolean = _ => true): (Long, Long) = {
    var n = 0L
    var h = 0L
    state(t).foreach { case (k, r) =>
      if (keep(r)) { n += 1; h += Model.rowHash(k, r.ts, t.columns.map(c => r.values.getOrElse(c, null))) }
    }
    (n, h)
  }
}

object Model {
  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def hex(s: String): String =
    md5.get().digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** `md5("<db>_<table>_<k1>_<k2>...")`, a missing key field as "null". */
  def keyOf(t: TableSpec, v: Map[String, Any]): String =
    hex((Seq(t.db, t.name) ++ t.keyFields.map(f => v.get(f).map(render).getOrElse("null")))
      .mkString("_"))

  private def render(v: Any): String = if (v == null) "null" else v.toString

  /** In-batch order: `_ts`, then the numeric tiebreak (absent sorts
    * first), then the raw record text. Returns the later record. */
  def later(a: Rec, b: Rec): Rec = {
    def tie(r: Rec): Option[BigDecimal] =
      r.table.tiebreak.flatMap(f => r.values.get(f)).map(x => BigDecimal(x.toString))
    val byTs = java.lang.Long.compare(a.ts, b.ts)
    val c =
      if (byTs != 0) byTs
      else (tie(a), tie(b)) match {
        case (Some(x), Some(y)) if x != y => x.compare(y)
        case (Some(_), None) => 1
        case (None, Some(_)) => -1
        case _ => a.raw.compareTo(b.raw)
      }
    if (c >= 0) a else b
  }

  def withDerived(t: TableSpec, v: Map[String, Any]): Map[String, Any] =
    v ++ t.derived.map { case (c, f) => c -> f(v) }

  /** 64-bit hash of one row's canonical text. */
  def rowHash(key: String, ts: Long, values: Seq[Any]): Long = {
    val text = (key +: ts.toString +: values.map(x => if (x == null) "∅" else x.toString))
      .mkString("\u0001")
    val d = md5.get().digest(text.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Digest of rows read back from the lake (columns in `t.columns` order). */
  def digestRows(t: TableSpec, rows: Seq[org.apache.spark.sql.Row]): (Long, Long) = {
    var h = 0L
    rows.foreach { r =>
      h += rowHash(r.getString(0), r.getLong(1), (2 until r.length).map(i => normalize(r.get(i))))
    }
    (rows.size.toLong, h)
  }

  private def normalize(v: Any): Any = v match {
    case i: Int => i.toLong
    case other => other
  }
}
