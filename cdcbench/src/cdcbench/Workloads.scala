package cdcbench

import java.util.SplittableRandom

/** The workloads' tables and cycle shapes. A cycle is one write plus the
  * reads around it; the client runs cycles back to back (closed loop, one
  * client). */
final case class WorkloadSpec(
    name: String,
    tables: Seq[TableSpec],
    /** CDC events per micro-batch. */
    batchEvents: Int,
    /** Zipf exponent for key choice; 0 = uniform. */
    zipf: Double,
    /** Table the reads and SQL MERGE INTO target. */
    readTable: TableSpec,
    /** Per cycle: the op kinds in order; "write" is the cycle's write. */
    cycle: Int => Seq[String],
    vacuumEvery: Int,
    keepVersions: Int)

object Workloads {
  private val Regions = Vector("eu", "us", "ap", "sa")
  private val Statuses = Vector("new", "paid", "shipped", "closed")

  private def word(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  val orders = TableSpec(
    "shop", "orders", Seq("region", "id"),
    Seq(Field("id", "long"), Field("region", "string"), Field("customer", "string"),
      Field("amount", "long"), Field("status", "string")),
    keySpace = 8000, buckets = 4, statsColumns = Seq("amount"), missingKeyShare = 0.02,
    transformerSql = Some("SELECT *, upper(status) AS status_uc FROM <SRC>"),
    derived = Seq("status_uc" -> (v => Option(v.getOrElse("status", null)).map(_.toString.toUpperCase).orNull)),
    row = (id, r) => Map(
      "id" -> id, "region" -> Regions((id % 4).toInt), "customer" -> s"c${r.nextInt(5000)}",
      "amount" -> r.nextLong(1000000L), "status" -> Statuses(r.nextInt(4))))

  val accounts = TableSpec(
    "shop", "accounts", Seq("id"),
    Seq(Field("id", "long"), Field("seq", "long"), Field("balance", "long"), Field("tier", "string")),
    keySpace = 3000, buckets = 4, tiebreak = Some("seq"),
    row = (id, r) => Map(
      "id" -> id, "seq" -> r.nextLong(40L), "balance" -> r.nextLong(100000L),
      "tier" -> Vector("gold", "silver", "bronze")(r.nextInt(3))))

  val ledger = TableSpec(
    "bank", "ledger", Seq("id"),
    Seq(Field("id", "long"), Field("region", "string"), Field("day", "string"),
      Field("amount", "long"), Field("memo", "string")),
    keySpace = 25000, buckets = 4, partition = Seq("region", "day"), statsColumns = Seq("amount"),
    row = (id, r) => Map(
      "id" -> id, "region" -> Regions((id % 3).toInt), "day" -> s"d${(id / 3) % 2}",
      "amount" -> r.nextLong(1000000L), "memo" -> word(r, 12)))

  val profiles = TableSpec(
    "bank", "profiles", Seq("id"),
    Seq(Field("id", "long"), Field("name", "string"), Field("amount", "long"), Field("score", "long")),
    keySpace = 25000, buckets = 8, statsColumns = Seq("amount"),
    row = (id, r) => Map(
      "id" -> id, "name" -> word(r, 10), "amount" -> r.nextLong(1000000L),
      "score" -> r.nextLong(100L)))

  val items = TableSpec(
    "serve", "items", Seq("id"),
    Seq(Field("id", "long"), Field("region", "string"), Field("amount", "long"), Field("name", "string")),
    keySpace = 4000, buckets = 4, partition = Seq("region"), tableType = "mor",
    compactAfter = 4, statsColumns = Seq("amount"),
    row = (id, r) => Map(
      "id" -> id, "region" -> Regions((id % 2).toInt), "amount" -> r.nextLong(1000000L),
      "name" -> word(r, 8)))

  /** Reads that follow each micro-batch on the CDC workloads: the
    * downstream consumer's read-back of the table the stream feeds. */
  private def readBack(i: Int): Seq[String] =
    Seq("write", "lookup", "scan_narrow", "incr", "scan_wide", "lookup")

  val all: Map[String, WorkloadSpec] = Map(
    "cdc_stream" -> WorkloadSpec(
      "cdc_stream", Seq(orders, accounts), batchEvents = 300, zipf = 1.1,
      readTable = orders, cycle = readBack, vacuumEvery = 2, keepVersions = 3),
    "cdc_bulk" -> WorkloadSpec(
      "cdc_bulk", Seq(ledger, profiles), batchEvents = 50000, zipf = 0.0,
      readTable = profiles, cycle = readBack, vacuumEvery = 2, keepVersions = 3),
    "lake_serve" -> WorkloadSpec(
      "lake_serve", Seq(items), batchEvents = 0, zipf = 0.0,
      readTable = items,
      // reads first: every op kind but the probe starts within the first
      // ~4 s of a window; three scans and three incremental reads per
      // cycle, as a window holds under two cycles
      cycle = _ => Seq("lookup", "scan_narrow", "incr", "lookup", "merge", "scan_wide", "incr",
        "lookup", "scan_narrow", "incr", "probe"),
      vacuumEvery = 1, keepVersions = 3))
}
