package cdcbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.cdc.{Dedup, Envelope, KeyGen, Transformer}
import graft.lake.{LakeTable, PartitionedLakeTable}

/** Handle to the tracer for the traced sink, which runs on the stream's
  * own thread. */
object TraceHook {
  @volatile var tracer: Tracer = _
  @volatile var root: Span = _
}

/** `writeStream.format("cdcbench.TracedSinkProvider")`: the program's
  * cdc-lake sink with a span around each `addBatch` (the call into
  * `CdcSyncCommand.run`), which also tags the batch's jobs. Used by traced
  * runs only. */
class TracedSinkProvider extends org.apache.spark.sql.sources.StreamSinkProvider {
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val inner = new graft.sources.CdcLakeSinkProvider()
      .createSink(sqlContext, parameters, partitionColumns, outputMode)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val p = TraceHook.root
        TraceHook.tracer.span("cdc.run", p.group, p.id)(inner.addBatch(batchId, data))
      }
    }
  }
}

object Partitions {
  /** Partition values of a single-column partitioned table. */
  def of(t: TableSpec): Seq[String] =
    (0 until t.keySpace.min(16)).map(i => partOf(t, i.toLong)).distinct.sorted

  def partOf(t: TableSpec, id: Long): String =
    t.row(id, new SplittableRandom(0L))(t.partition.head).toString
}

/** The benchmark loop for one workload: one lake root with its generator,
  * model and (on the CDC workloads) stream. */
final class Run(spark: SparkSession, args: Main.Args, slots: Int, tracer: Tracer, tap: JobTap) {
  private val spec: WorkloadSpec = Workloads.all(args.workload)

  private val root = s"${args.work}/root"
  private val lakeRoot = s"$root/lake"
  private val gen = new Gen(args.seed)
  private val model = new Model
  private val zipfs: Map[String, Zipf] =
    if (spec.zipf > 0) spec.tables.map(t => t.ident -> new Zipf(t.keySpace, spec.zipf, gen.rnd)).toMap
    else Map.empty
  private val keyRnd = new SplittableRandom(0L)
  private var listing: Fs.Listing = Map.empty
  /** Per incremental target (table or table/partition): (op, version). */
  private val versions = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Long)]]
  private val catalogName = s"bench_${spec.readTable.name}"
  private var input: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var cycles = 0

  // one handle per table, built on first use (after the bootstrap load)
  private lazy val plainHandles: Map[String, LakeTable] =
    spec.tables.filter(_.partition.isEmpty).map(t => t.ident ->
      new LakeTable(spark, t.path(root), t.buckets, tableType = t.tableType,
        compactAfter = t.compactAfter, statsColumns = t.statsColumns)).toMap
  private lazy val partedHandles: Map[String, PartitionedLakeTable] =
    spec.tables.filter(_.partition.nonEmpty).map(t => t.ident ->
      new PartitionedLakeTable(spark, t.path(root), t.partition.mkString(","), t.buckets,
        tableType = t.tableType, compactAfter = t.compactAfter,
        statsColumns = t.statsColumns)).toMap
  private def plain(t: TableSpec): LakeTable = plainHandles(t.ident)
  private def parted(t: TableSpec): PartitionedLakeTable = partedHandles(t.ident)

  private def pick(t: TableSpec): Int =
    if (spec.zipf > 0) zipfs(t.ident).next(gen.rnd) else gen.rnd.nextInt(t.keySpace)

  private def keyFor(t: TableSpec, id: Long): String = Model.keyOf(t, t.row(id, keyRnd))

  private val sinkOptions: Map[String, String] =
    spec.tables.flatMap(_.sinkOptions(root)).toMap ++
      Map("option.lake.path" -> s"$lakeRoot/{db}/{table}")

  /** Incremental-read targets: (target id, partition, handle). */
  private def incrTargets: Seq[(String, String, LakeTable)] = {
    val t = spec.readTable
    if (t.partition.isEmpty) Seq((t.ident, "", plain(t)))
    else Partitions.of(t).map(r => (s"${t.ident}/$r", r, parted(t).partitionTable(r)))
  }

  private def recordVersions(): Unit = incrTargets.foreach { case (id, _, h) =>
    h.latestVersion.foreach { v =>
      val vs = versions.getOrElseUpdate(id, mutable.ArrayBuffer.empty)
      if (vs.isEmpty || vs.last._2 != v) vs += ((model.writeOps, v))
    }
  }

  /** Bootstrap load: every table's key space through the batch envelope
    * path of the same format. */
  private def bootstrap(): Unit = {
    import spark.implicits._
    val recs = spec.tables.flatMap(gen.bootstrap)
    model.applyBatch(recs)
    val envs = recs.grouped(500).map(Envelopes.render).toSeq
    // an initial load of unique keys: the insert (bulk-load) operation
    val insert = spec.tables.map(t => s"${t.db}.${t.name}.write.operation" -> "insert")
    envs.toDF("value").write.format("cdc-lake").options(sinkOptions ++ insert).mode("append").save()
    recordVersions()
  }

  /** Catalog registration of the read table (the MERGE target) and, on
    * the CDC workloads, the stream start. */
  private def start(): Unit = {
    val t = spec.readTable
    val opts = Seq(
      "path" -> t.path(root), "buckets" -> t.buckets.toString,
      "tableType" -> t.tableType, "compactAfter" -> t.compactAfter.toString,
      "statsColumns" -> t.statsColumns.mkString(",")) ++
      (if (t.partition.nonEmpty) Seq("partitionCol" -> t.partition.mkString(",")) else Nil)
    spark.sql(s"CREATE TABLE $catalogName USING `cdc-lake` OPTIONS (" +
      opts.map { case (k, v) => s"$k '$v'" }.mkString(", ") + ")")
    if (spec.batchEvents > 0) {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      input = MemoryStream[String]
      query = input.toDF().writeStream
        .format(if (args.trace) "cdcbench.TracedSinkProvider" else "cdc-lake")
        .options(sinkOptions)
        .option("checkpointLocation", s"$root/_checkpoint")
        .start()
    }
    listing = Fs.list(lakeRoot)
  }

  private def stop(): Unit = if (query != null) { query.stop(); query = null }

  private val lat = mutable.HashMap.empty[String, Samples]
  private def sample(kind: String): Samples = lat.getOrElseUpdate(kind, new Samples)
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def put(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private var attempted = 0L
  private var failed = 0L
  private var timed = false
  private var records = 0L
  private var payloadBytes = 0L
  private var writtenBytes = 0L
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]
  private var readLiveBytes = 0L
  private var traceFailures = 0
  private val failures = mutable.ArrayBuffer.empty[String]

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"cdcbench: FAILED $what")
  }

  private def nanos[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run one op: count it, time it, catch its failure. */
  private def op(kind: String)(f: Int => Boolean): Unit = {
    attempted += 1
    val group = tracer.newGroup()
    val ok =
      try f(group)
      catch { case NonFatal(e) =>
        e.printStackTrace()
        false
      }
    if (!ok) fail(s"$kind (cycle $cycles)")
    if (tracer.enabled) {
      org.apache.spark.cdcbench.Bus.drain(spark.sparkContext)
      layerOf(kind, group)
    }
  }

  // ---- ops ----------------------------------------------------------------

  private def writeBatch(events: Int)(group: Int): Boolean = {
    val envs = gen.batch(spec.tables, events, 0.05, pick)
    val recs = envs.flatten
    val strings = envs.map(Envelopes.render)
    val before = listing
    TraceHook.tracer = tracer
    val root = tracer.open("batch", group)
    TraceHook.root = root
    val (_, ms) = nanos {
      input.addData(strings: _*)
      query.processAllAvailable()
    }
    tracer.close(root)
    val winners = model.applyBatch(recs)
    if (timed) {
      sample("batch") += ms
      records += recs.size
      payloadBytes += recs.map(_.raw.length.toLong).sum
    }
    afterWrite(before)
    if (tracer.enabled) {
      put("cdc.dedup_ratio", winners.toDouble / recs.size)
      put("cdc.tables_per_batch", recs.map(_.table.ident).distinct.size.toDouble)
      progress()
      replay(strings, group)
    }
    true
  }

  private def afterWrite(before: Fs.Listing): Unit = {
    val after = Fs.list(lakeRoot)
    listing = after
    val w = Fs.written(before, after)
    if (timed) writtenBytes += Fs.bytes(w)
    recordVersions()
    if (tracer.enabled) {
      readLiveBytes = liveBytesOf(spec.readTable)
      put("lake.files_written", w.size.toDouble)
      put("lake.bytes_written", Fs.bytes(w).toDouble)
      put("lake.buckets_rewritten", Fs.buckets(w).toDouble)
    }
  }

  /** Bytes of the files the latest snapshot of `t` references. */
  private def liveBytesOf(t: TableSpec): Long = {
    val files = if (t.partition.isEmpty) plain(t).snapshot.inputFiles else parted(t).snapshot.inputFiles
    files.map(f => new java.io.File(new java.net.URI(f)).length()).sum
  }

  /** On-disk bytes under the table roots ÷ bytes of their live files. */
  private def spaceAmpOf(listing: Fs.Listing): Double = {
    val disk = spec.tables.map { t =>
      val rel = t.path(root).stripPrefix(lakeRoot + "/") + "/"
      listing.collect { case (k, e) if k.startsWith(rel) => e.size }.sum
    }.sum
    disk.toDouble / spec.tables.map(liveBytesOf).sum.max(1L)
  }

  private def reader(t: TableSpec): DataFrame =
    spark.read.format("cdc-lake").option("buckets", t.buckets.toString).load(t.path(root))

  private def cols(t: TableSpec) = (Seq(LakeTable.KeyCol, LakeTable.TsCol) ++ t.columns).map(col)

  private def mergeOp(group: Int): Boolean = {
    val t = spec.readTable
    val r = gen.rnd
    // rows of every partition, so each partition keeps a live delta stack
    val ids = (0 until 20).map(_ => pick(t).toLong).distinct
    val rows = ids.map { id =>
      val v = t.row(id, r)
      (Model.keyOf(t, v), gen.nextTs(), Model.withDerived(t, v), r.nextDouble() < 0.15)
    }
    val schema = StructType(
      Seq(StructField(LakeTable.KeyCol, StringType), StructField(LakeTable.TsCol, LongType)) ++
        t.columns.map(c => StructField(c,
          if (t.fields.find(_.name == c).exists(_.kind == "long")) LongType else StringType)) :+
        StructField("op", StringType))
    val data = rows.map { case (k, ts, v, del) =>
      Row.fromSeq(Seq(k, ts) ++ t.columns.map(v.getOrElse(_, null)) :+ (if (del) "d" else "u"))
    }
    val view = s"merge_src_${catalogName}"
    spark.createDataFrame(data.asJava, schema).createOrReplaceTempView(view)
    spark.catalog.refreshTable(catalogName)
    val before = listing
    val depths0 = if (tracer.enabled) depths() else Map.empty[String, Int]
    val (_, span) = tracer.span("sql.merge", group) {
      val (_, ms) = nanos(spark.sql(
        s"""MERGE INTO ${catalogName} t USING $view s ON t._key = s._key
           |WHEN MATCHED AND s.op = 'd' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT *""".stripMargin))
      if (timed) sample("merge") += ms
    }
    model.applyMerge(t, rows.map { case (k, ts, v, d) => (k, ts, v, d) })
    if (timed) {
      records += rows.size
      payloadBytes += rows.map { case (_, _, v, _) => Json.value(v).length.toLong }.sum
    }
    afterWrite(before)
    if (tracer.enabled) {
      val d1 = depths()
      if (d1.exists { case (k, v) => depths0.get(k).exists(_ > v) })
        put("lake.fold_ms", (span.end - span.start).toDouble)
    }
    true
  }

  /** Delta-stack depth per (partition, bucket) of the read table. */
  private def depths(): Map[String, Int] =
    incrTargets.flatMap { case (id, _, h) =>
      h.deltaDepths.map { case (b, d) => s"$id#$b" -> d }
    }.toMap

  private def lookupOp(group: Int): Boolean = {
    val t = spec.readTable
    val r = gen.rnd
    val n = 1 + r.nextInt(10)
    // a fifth of the ids fall outside the key space (absent keys)
    def anyId(): Long =
      if (r.nextDouble() < 0.2) (t.keySpace + r.nextInt(t.keySpace)).toLong else pick(t).toLong
    val first = anyId()
    val part = if (t.partition.isEmpty) "" else Partitions.partOf(t, first)
    val handle = if (t.partition.isEmpty) plain(t) else parted(t).partitionTable(part)
    // the other ids of one lookup share the first id's partition
    val ids = first +: Iterator.continually(anyId())
      .filter(id => t.partition.isEmpty || Partitions.partOf(t, id) == part).take(n - 1).toSeq
    val keys = ids.map(keyFor(t, _)).distinct
    if (tracer.enabled) tracer.span("lake.open", group) {
      new LakeTable(spark, handle.basePath, t.buckets).latestVersion
    }
    val (got, ms) = nanos(tracer.span("read.lookup", group) {
      withPart(t, part, handle.lookup(keys)).select(cols(t): _*).collect().toSeq
    }._1)
    if (timed) sample("lookup") += ms
    Model.digestRows(t, got) == expected(t, keys.filter(model.state(t).contains))
  }

  /** A partition's own table holds no partition column: add it back. */
  private def withPart(t: TableSpec, part: String, df: DataFrame): DataFrame =
    if (part.isEmpty) df else df.withColumn(t.partition.head, lit(part))

  private def expected(t: TableSpec, keys: Seq[String]): (Long, Long) = {
    val st = model.state(t)
    var h = 0L
    keys.foreach { k =>
      val r = st(k)
      h += Model.rowHash(k, r.ts, t.columns.map(c => r.values.getOrElse(c, null)))
    }
    (keys.size.toLong, h)
  }

  private def probeOp(group: Int): Boolean = {
    import spark.implicits._
    val t = spec.readTable
    val r = gen.rnd
    val keys = (0 until 200).map { i =>
      val id = if (i % 2 == 0) pick(t).toLong else (t.keySpace + r.nextInt(t.keySpace)).toLong
      keyFor(t, id)
    }.distinct
    val df = keys.toDF(LakeTable.KeyCol)
    val (got, ms) = nanos(tracer.span("read.probe", group) {
      val out = if (t.partition.isEmpty) plain(t).probeKeys(df) else parted(t).probeKeys(df)
      out.collect().map(_.getString(0)).toSet
    }._1)
    if (timed) sample("probe") += ms
    got == keys.filter(model.state(t).contains).toSet
  }

  private def scanOp(wide: Boolean)(group: Int): Boolean = {
    val t = spec.readTable
    val width = if (wide) 100000L else 1000L
    val lo = gen.rnd.nextLong(1000000L - width)
    val hi = lo + width - 1
    val (got, ms) = nanos {
      val (df, _) = tracer.span("read.plan", group) {
        val d = reader(t).filter(col("amount").between(lo, hi)).select(cols(t): _*)
        d.queryExecution.executedPlan
        d
      }
      tracer.span("read.exec", group)(df.collect().toSeq)._1
    }
    if (timed) sample("scan") += ms
    val want = model.digest(t, m => m.values.get("amount").exists {
      case a: Long => a >= lo && a <= hi
      case _ => false
    })
    Model.digestRows(t, got) == want
  }

  private def incrOp(group: Int): Boolean = {
    val t = spec.readTable
    val r = gen.rnd
    val targets = incrTargets.filter { case (id, _, _) => versions.get(id).exists(_.size >= 2) }
    if (targets.isEmpty) return true
    val (id, part, h) = targets(r.nextInt(targets.size))
    val vs = versions(id)
    // keepVersions - 1 versions back (fewer early on): vacuum keeps them
    val back = (spec.keepVersions - 1).min(vs.size - 1)
    val (sinceOp, since) = vs(vs.size - 1 - back)
    val until = vs.last._2
    val (got, ms) = nanos(tracer.span("read.incremental", group) {
      withPart(t, part, h.incrementalBetween(since, until)).select(cols(t): _*).collect().toSeq
    }._1)
    if (timed) sample("incr") += ms
    val lw = model.lastWrite.getOrElse(t.ident, mutable.HashMap.empty[String, Int])
    val keys = model.state(t).collect {
      case (k, m) if lw.get(k).exists(_ > sinceOp) &&
        (part.isEmpty || m.values.get(t.partition.head).contains(part)) => k
    }.toSeq
    Model.digestRows(t, got) == expected(t, keys)
  }

  /** Inline vacuum of every table; with `sample`, the space
    * amplification right after it, a fixed point of the vacuum cycle. */
  private def vacuumOp(sample: Boolean)(group: Int): Boolean = {
    val before = Fs.list(lakeRoot)
    val (_, span) = tracer.span("lake.vacuum", group) {
      spec.tables.foreach { t =>
        if (t.partition.isEmpty) plain(t).vacuum(spec.keepVersions)
        else parted(t).vacuum(spec.keepVersions)
      }
    }
    val after = Fs.list(lakeRoot)
    listing = after
    if (sample) spaceAmp += spaceAmpOf(after)
    if (tracer.enabled) {
      put("lake.vacuum_ms", (span.end - span.start).toDouble)
      put("lake.vacuum_files_deleted", Fs.deleted(before, after).size.toDouble)
    }
    true
  }

  private def runOp(kind: String): Unit = kind match {
    case "write" => op("batch")(writeBatch(spec.batchEvents))
    case "merge" => op("merge")(mergeOp)
    case "lookup" => op("lookup")(lookupOp)
    case "probe" => op("probe")(probeOp)
    case "scan_narrow" => op("scan")(scanOp(wide = false))
    case "scan_wide" => op("scan")(scanOp(wide = true))
    case "incr" => op("incr")(incrOp)
  }

  /** One cycle; in the timed window it stops at the first op due after
    * the deadline, so the window ends within one op of `--seconds`. */
  def cycle(deadline: Long): Unit = {
    spec.cycle(cycles).iterator.takeWhile(_ => System.nanoTime() < deadline)
      .foreach(runOp)
    cycles += 1
    if (cycles % spec.vacuumEvery == 0 && System.nanoTime() < deadline)
      op("vacuum")(vacuumOp(sample = timed))
  }

  /** Final table state against the model: row count and hash. */
  private def checkTables(): Unit = spec.tables.foreach { t =>
    attempted += 1
    val got = reader(t).select(cols(t): _*).collect().toSeq
    val (n, h) = Model.digestRows(t, got)
    val (wn, wh) = model.digest(t)
    if (n != wn || h != wh) fail(s"final state of ${t.ident}: $n rows vs model $wn")
  }

  // ---- tracing ------------------------------------------------------------

  private def progress(): Unit = {
    val ps = query.recentProgress.filter(_.numInputRows > 0)
    ps.lastOption.foreach { p =>
      val d = p.durationMs.asScala
      val add = d.get("addBatch").map(_.toDouble).getOrElse(0.0)
      put("stream.add_batch_ms", add)
      put("stream.overhead_ms", d.get("triggerExecution").map(_.toDouble).getOrElse(0.0) - add)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Replay one batch through each CDC stage's public function, every
    * stage materialised with `noop` on its cached input. */
  private def replay(strings: Seq[String], group: Int): Unit = {
    import spark.implicits._
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val c = df.persist(); c.count(); cached += c; c }
    def stage(name: String)(df: => DataFrame): DataFrame = {
      val (d, s) = tracer.span(name, group) { val d = df; noop(d); d }
      put(name + "_ms", (s.end - s.start).toDouble)
      d
    }
    try {
      val raw = keep(strings.toDF("value"))
      val meta = Envelope.MetaCol
      val parsed = keep(stage("cdc.parse")(Envelope.parse(raw)))
      val keyed = keep(stage("cdc.keygen")(parsed
        .withColumn(LakeTable.KeyCol, KeyGen.forTables(
          col(s"$meta.databaseName"), col(s"$meta.tableName"), col(Envelope.ValueCol),
          spec.tables.map(t => (t.db, t.name) -> t.keyFields).toMap))
        .withColumn(LakeTable.TsCol, col(s"$meta.timestamp"))))
      val tie = spec.tables.foldLeft(lit(null).cast("decimal(38,10)")) { (acc, t) =>
        t.tiebreak.map(f => when(col(s"$meta.tableName") === t.name,
          get_json_object(col(Envelope.ValueCol), s"$$.$f").cast("decimal(38,10)")).otherwise(acc))
          .getOrElse(acc)
      }
      val winners = keep(stage("cdc.dedup")(Dedup.lww(keyed.withColumn("_tie", tie),
        LakeTable.KeyCol, Seq(LakeTable.TsCol, "_tie", Envelope.ValueCol)).drop("_tie")))
      def mine(t: TableSpec) = winners.filter(
        col(s"$meta.databaseName") === t.db && col(s"$meta.tableName") === t.name && !Envelope.isDelete)
      val (_, ds) = tracer.span("cdc.decode", group) {
        spec.tables.foreach(t => noop(Envelope.decode(mine(t), t.sparkSchemaJson)))
      }
      put("cdc.decode_ms", (ds.end - ds.start).toDouble)
      val withSql = spec.tables.filter(_.transformerSql.nonEmpty)
      val decoded = withSql.map(t => t -> keep(Envelope.decode(mine(t), t.sparkSchemaJson)))
      val (_, ts) = tracer.span("cdc.transform", group) {
        decoded.foreach { case (t, d) => noop(Transformer.transform(d, t.transformerSql.get)) }
      }
      put("cdc.transform_ms", (ts.end - ts.start).toDouble)
    } finally cached.foreach(_.unpersist())
  }

  /** Per-layer numbers of one traced op from its span tree. */
  private def layerOf(kind: String, group: Int): Unit = {
    // replayed stages (cdc.*) are roots of their own with nothing below
    val roots = tracer.all.filter(s =>
      s.group == group && s.parent == 0 && !s.name.startsWith("cdc."))
    val jobs = tap.all
    roots.foreach { root =>
      val nodes = tracer.tree(root, jobs)
      val dur = (root.end - root.start).toDouble
      tracer.problems(root, jobs, nodes).foreach { p =>
        traceFailures += 1
        System.err.println(s"cdcbench: trace check: $p")
      }
      val jobNodes = nodes.filter(_.job.nonEmpty)
      val js = jobNodes.flatMap(_.job)
      def byPhase(p: String) = jobNodes.filter(_.job.get.phase == p).map(_.self).sum
      root.name match {
        case "batch" =>
          val run = nodes.find(_.name == "cdc.run")
          run.flatMap(_.span).foreach(s => put("cdc.run_ms", (s.end - s.start).toDouble))
          run.foreach(n => put("lake.driver_ms", n.self))
          val unl = jobNodes.filter(_.job.get.phase == JobRec.Unlabelled)
          put("cdc.unlabelled_jobs", unl.size.toDouble)
          put("cdc.unlabelled_job_ms", unl.map(_.self).sum)
          val tables = layer.get("cdc.tables_per_batch").map(_.last).getOrElse(1.0)
          put("lake.jobs_per_commit", (js.size - unl.size) / tables.max(1.0))
          Seq("affected", "write", "stats", "bloom-build").foreach(p => put(s"lake.job_ms.$p", byPhase(p)))
          put("trace.write_ms", dur)
          commitJobs(js, jobNodes.map(_.share).sum)
        case "sql.merge" =>
          put("sql.merge_jobs", js.size.toDouble)
          put("sql.merge_job_ms", jobNodes.map(_.self).sum)
          put("sql.merge_driver_ms", nodes.head.self)
          put("trace.write_ms", dur)
          commitJobs(js, jobNodes.map(_.share).sum)
        case "read.lookup" | "read.probe" | "read.incremental" =>
          put(root.name + "_ms", dur)
          readBytes(js)
        case "read.plan" | "read.exec" =>
          put(root.name + "_ms", dur)
          if (root.name == "read.exec") readBytes(js)
        case "lake.open" => put("lake.open_ms", dur)
        case _ =>
      }
      put("spark.task_failures", js.map(_.failedTasks).sum.toDouble)
    }
    if (kind != "batch" && kind != "merge" && kind != "vacuum") {
      val d = depths()
      put("read.delta_depth", if (d.isEmpty) 0.0 else d.values.sum.toDouble / d.size)
    }
  }

  private def commitJobs(js: Seq[JobRec], covered: Double): Unit = {
    put("lake.tasks", js.map(_.tasks).sum.toDouble)
    put("lake.cpu_ms", js.map(_.cpuNs).sum / 1e6)
    put("lake.gc_ms", js.map(_.gcMs).sum.toDouble)
    put("lake.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble)
    put("lake.spill_bytes", js.map(_.spillBytes).sum.toDouble)
    put("lake.slot_util", js.map(_.runMs).sum / (covered * slots).max(1.0))
  }

  private def readBytes(js: Seq[JobRec]): Unit = {
    val b = js.map(_.inputBytes).sum.toDouble
    put("read.bytes_read", b)
    put("read.prune_ratio", if (readLiveBytes > 0) b / readLiveBytes else 0.0)
  }

  // ---- the run ------------------------------------------------------------

  def execute(sessionS: Double): Map[String, Any] = {
    // set-up: bootstrap load, stream start, and a discarded warm-up of
    // each op kind of a cycle once (one write among them)
    val loadS = nanos(bootstrap())._2 / 1000
    val warmS = nanos {
      start()
      spec.cycle(0).distinct.foreach(runOp)
    }._2 / 1000
    val setupFailed = failed
    readLiveBytes = liveBytesOf(spec.readTable)
    timed = true
    val t0 = System.nanoTime()
    val windowS = args.seconds.toDouble
    val deadline = t0 + (windowS * 1e9).toLong
    while (System.nanoTime() < deadline) cycle(deadline)
    val elapsed = (System.nanoTime() - t0) / 1e9
    timed = false
    stop()
    // space amplification after a final vacuum too, so every run samples
    // it at least once
    op("vacuum")(vacuumOp(sample = true))
    checkTables()
    val checkS = (System.nanoTime() - t0) / 1e9 - elapsed
    // retained heap: the least used heap over three full collections
    val rt = Runtime.getRuntime
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min

    val s = (k: String) => lat.getOrElse(k, new Samples)
    // the workload's write: a micro-batch on the CDC workloads, a SQL
    // MERGE INTO on lake_serve
    val w = s(if (spec.batchEvents > 0) "batch" else "merge")
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", sessionS + loadS + warmS, "s"),
      ("write_p50_ms", w.p50, "ms"),
      ("ingest_eps", records / (w.xs.sum / 1000).max(1e-9), "1/s"),
      ("write_amp", writtenBytes.toDouble / payloadBytes.max(1L), "ratio"),
      ("space_amp", Stats.median(spaceAmp.toSeq), "ratio"),
      ("lookup_p50_ms", s("lookup").p50, "ms"),
      ("scan_p50_ms", s("scan").p50, "ms"),
      ("incr_p50_ms", s("incr").p50, "ms"),
      ("ok_rate", (attempted - failed).toDouble / attempted.max(1L), "ratio"),
      ("retained_heap_mb", heapMb, "MB"))
    val perLayer: Seq[(String, Double, String)] = PerLayer.names.map { case (n, unit) =>
      val v = layer.get(n).map(b => if (PerLayer.summed(n)) b.sum else Stats.median(b.toSeq))
        .getOrElse(0.0)
      (n, v, unit)
    }
    val metrics = (if (tracer.enabled) perLayer else e2e).map { case (n, v, u) =>
      n -> Map("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u)
    }.toMap
    if (tracer.enabled) {
      writeTrace()
      selfTable()
    }
    val result = Map(
      "correct" -> (failed == 0 && traceFailures == 0),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)
    val report = Map(
      "workload" -> spec.name, "seed" -> args.seed, "seconds" -> args.seconds,
      "window_s" -> elapsed, "check_s" -> checkS, "trace" -> tracer.enabled, "cycles" -> cycles,
      "bootstrap_s" -> loadS, "warmup_s" -> warmS, "session_s" -> sessionS,
      "samples" -> lat.map { case (k, v) => k -> Map(
        "n" -> v.n, "p50" -> v.p50, "tail_pct" -> v.tailPct, "tail" -> v.tail,
        "ms" -> v.xs.toSeq.map(x => math.round(x))) }.toMap,
      "records" -> records, "payload_bytes" -> payloadBytes, "written_bytes" -> writtenBytes,
      "failures" -> failures.toSeq, "trace_failures" -> traceFailures,
      "setup_failures" -> setupFailed)
    deleteTree(root)
    Map("result" -> result, "report" -> report)
  }

  private def writeTrace(): Unit = {
    val f = java.nio.file.Paths.get(args.work).getParent
      .resolve(s"trace-${spec.name}-${args.seed}.json")
    java.nio.file.Files.write(f, tracer.toJson(tap.all).getBytes("UTF-8"))
    System.err.println(s"cdcbench: spans written to $f")
  }

  /** Self time per span or job phase, summed over the traced ops. */
  private def selfTable(): Unit = {
    val jobs = tap.all
    val rows = mutable.LinkedHashMap.empty[String, (Double, Int)]
    tracer.all.filter(_.parent == 0).foreach { root =>
      tracer.tree(root, jobs).foreach { n =>
        val k = s"${root.name} > ${n.name}"
        val (a, c) = rows.getOrElse(k, (0.0, 0))
        rows(k) = (a + n.self, c + 1)
      }
    }
    System.err.println(f"${"root > node"}%-44s ${"self ms"}%12s ${"count"}%8s")
    rows.toSeq.sortBy(-_._2._1).foreach { case (k, (ms, c)) =>
      System.err.println(f"$k%-44s $ms%12.1f $c%8d")
    }
  }

  private def deleteTree(p: String): Unit = {
    val f = new java.io.File(p)
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm))
      x.delete()
    }
    if (f.exists()) rm(f)
  }
}

/** Per-layer metric names and units, in report order. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "stream.add_batch_ms" -> "ms", "stream.overhead_ms" -> "ms",
    "cdc.parse_ms" -> "ms", "cdc.keygen_ms" -> "ms", "cdc.dedup_ms" -> "ms",
    "cdc.decode_ms" -> "ms", "cdc.transform_ms" -> "ms", "cdc.dedup_ratio" -> "ratio",
    "cdc.run_ms" -> "ms", "cdc.unlabelled_jobs" -> "count", "cdc.unlabelled_job_ms" -> "ms",
    "cdc.tables_per_batch" -> "count",
    "lake.jobs_per_commit" -> "count", "lake.job_ms.affected" -> "ms",
    "lake.job_ms.write" -> "ms", "lake.job_ms.stats" -> "ms", "lake.job_ms.bloom-build" -> "ms",
    "lake.driver_ms" -> "ms", "lake.slot_util" -> "ratio", "lake.tasks" -> "count",
    "lake.cpu_ms" -> "ms", "lake.gc_ms" -> "ms", "lake.shuffle_bytes" -> "bytes",
    "lake.spill_bytes" -> "bytes", "lake.files_written" -> "count",
    "lake.bytes_written" -> "bytes", "lake.buckets_rewritten" -> "count",
    "lake.vacuum_ms" -> "ms", "lake.vacuum_files_deleted" -> "count", "lake.fold_ms" -> "ms",
    "lake.open_ms" -> "ms",
    "read.lookup_ms" -> "ms", "read.probe_ms" -> "ms", "read.plan_ms" -> "ms",
    "read.exec_ms" -> "ms", "read.bytes_read" -> "bytes", "read.prune_ratio" -> "ratio",
    "read.delta_depth" -> "count", "read.incremental_ms" -> "ms",
    "sql.merge_jobs" -> "count", "sql.merge_job_ms" -> "ms", "sql.merge_driver_ms" -> "ms",
    "spark.task_failures" -> "count", "trace.write_ms" -> "ms")
  val summed: Set[String] = Set("spark.task_failures")
}
