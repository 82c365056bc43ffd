package graft.bench

import java.nio.file.{Files, Path, Paths}

import graft.SparkEntry
import graft.cli.GraftCli
import graft.etl.EtlFlags
import graft.io.Zones
import graft.model.{CdmField, CdmModel, TpchModel}
import graft.operators.{AchillesGen, DqdChecks}
import graft.sources.{OhdsiSql, SqlTemplates}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark JVM. It builds the session, runs one workload's timed calls
  * once over inputs staged beforehand, and writes a JSON result: the wall
  * time and row count of every timed call, what the correctness check needs,
  * and (traced JVMs only) the per-layer metrics and the span file.
  *
  * Usage: PerfBench --workload W --input DIR --work DIR --out FILE
  *          --slots N --trace 0|1 [--entries a,b,c]
  * The workload `setup` takes no input: it builds the session, records when
  * it was ready, and exits.
  */
object PerfBench {

  final case class Opts(
      workload: String, input: String, work: String, out: String, slots: Int,
      trace: Boolean, entries: Seq[String])

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(
      workload = kv("--workload"), input = kv.getOrElse("--input", ""), work = kv("--work"),
      out = kv("--out"), slots = kv("--slots").toInt, trace = kv.get("--trace").contains("1"),
      entries = kv.get("--entries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }

  final case class Call(name: String, startUs: Long, endUs: Long, rows: Long,
      output: Option[String], error: Option[String])

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.slots}]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", o.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sessionState.conf // builds the session state, which applies GraftExtensions
    s
  }

  // ------------------------------------------------------------ etl_folder

  /** The folder fixture's model: the TPC-H tables plus an events table with
    * a polymorphic event column (the shape `graft.tools.FolderEtlSoak` runs).
    */
  val etlModel: CdmModel = {
    def f(t: String, n: String, dt: String, req: Boolean = true,
        pk: Boolean = false, fk: Option[String] = None) =
      CdmField(t, n, dt, req, pk, fk, "CDM")
    CdmModel(
      fields = TpchModel.model.fields ++ Seq(
        f("orders", "priority_concept_id", "int64", req = false, fk = Some("concept")),
        f("events", "event_id", "int64", pk = true),
        f("events", "user_id", "int64", fk = Some("customer")),
        f("events", "event_type", "string", req = false),
        f("events", "target_event_id", "string", req = false),
        f("events", "event_table", "string", req = false)),
      eventFields = Map("events" -> Map("target_event_id" -> "event_table")))
  }

  /** The folder fixture: one user query per table, a Usagi map for the
    * orders priority, and an events query emitting the polymorphic column.
    */
  val etlFolderFiles: Seq[(String, String)] = Seq(
    "region/load.sql.jinja" -> "SELECT r_regionkey, r_name FROM {{project_raw}}_region",
    "nation/load.sql.jinja" -> "SELECT n_nationkey, n_name, n_regionkey FROM {{project_raw}}_nation",
    "customer/load.sql.jinja" -> "SELECT c_custkey, c_name, c_nationkey FROM {{project_raw}}_customer",
    "orders/load.sql.jinja" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority,
        |  o_orderpriority AS priority_concept_id
        |FROM {{project_raw}}_orders""".stripMargin,
    "orders/priority_concept_id/map.csv" ->
      """sourceCode,sourceName,mappingStatus,conceptId,conceptName,domainId
        |1-URGENT,urgent,APPROVED,101,Urgent,Observation
        |2-HIGH,high,SEMI-APPROVED,102,High,Observation
        |3-MEDIUM,medium,APPROVED,103,Medium,Observation""".stripMargin,
    "events/load.sql.jinja" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(user_id AS STRING) AS target_event_id,
        |  'customer' AS event_table
        |FROM {{project_raw}}_events""".stripMargin)

  private def writeFolder(folder: Path): Unit = etlFolderFiles.foreach { case (rel, body) =>
    val p = folder.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, body)
  }

  /** Sizes of the regular files under `roots`. */
  private def fileSizes(roots: String*): Seq[Long] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { p =>
      val st = Files.walk(p)
      try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_)).map(Files.size)
      finally st.close()
    }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    try {
      if (o.workload == "setup") // a session-only JVM: it measures set-up alone
        Json.write(o.out, Map("first_call_epoch_s" -> Clock.nowUs / 1e6))
      else measure(spark, o)
    } finally spark.stop()
  }

  private def measure(spark: SparkSession, o: Opts): Unit = {
    val spans = new Spans
    val engine = if (o.trace) Some(EngineTrace.install(spark, o.slots, spans)) else None
    val calls = Seq.newBuilder[Call]
    val firstCallUs = Clock.nowUs

    /** Time one call; a throw is recorded as the call's error. */
    def timed(name: String, output: Option[String] = None)(f: => Long): Unit = {
      val t0 = Clock.nowUs
      val (rows, err) =
        try (spans(name)(f), None)
        catch { case e: Throwable => (0L, Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))) }
      calls += Call(name, t0, Clock.nowUs, rows, output, err)
    }

    val zones = Zones(s"${o.work}/zones")
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]

    o.workload match {
      case "etl_folder" =>
        val folder = Paths.get(o.work, "folder")
        writeFolder(folder)
        var counts = Map.empty[String, Long]
        timed("graft.cli.GraftCli.runEtl") {
          counts = GraftCli.runEtl(spark, zones, folder, EtlFlags(), etlModel)
          counts.values.sum
        }
        facts("etl_counts") = counts
        // FolderEtlSoak's check: user_id went through the customer swap as
        // an FK rewrite and target_event_id through the stage-2 event
        // rewrite from the same source key, so both must hold one surrogate
        facts("event_rekey_mismatches") = scala.util.Try(
          zones.read(spark, "omop", "events")
            .filter(col("target_event_id") =!= col("user_id")).count()).getOrElse(-1L)

      case "ohdsi_bridge" =>
        val registry = SparkEntry.queries
        o.entries.foreach { name =>
          val out = s"${o.work}/out/$name"
          timed(name, Some(out)) {
            val fn = registry.getOrElse(name,
              throw new NoSuchElementException(s"no registered entry $name"))
            fn(spark, o.input).write.parquet(out)
            0L // the harness counts the written rows
          }
          // the isolation graft.Bench applies between entries, untimed
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          System.gc()
          SparkEntry.oracleSql.get(name).foreach(oracles(name) = _)
        }

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val done = calls.result()
    val disk = fileSizes(zones.root, s"${o.work}/warehouse")
    facts("zones_bytes") = disk.sum

    val layers: Map[String, Double] = engine.map { e =>
      e.snapshot(done.map(c => (c.startUs, c.endUs))) ++ probes(spark, o, zones, spans) ++ Map(
        "io.files" -> disk.size.toDouble,
        "io.disk_mb" -> disk.sum / (1024.0 * 1024.0),
        "etl.tables" -> zones.listTables(spark, "omop").size.toDouble)
    }.getOrElse(Map.empty)

    if (o.trace) {
      val lines = spans.all.map(s => Json.encode(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "run" -> o.out)))
      Files.writeString(Paths.get(o.work, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    }

    Json.write(o.out, Map(
      "workload" -> o.workload,
      "first_call_epoch_s" -> firstCallUs / 1e6,
      "calls" -> done.map(c => Map(
        "name" -> c.name, "wall_s" -> (c.endUs - c.startUs) / 1e6,
        "rows" -> c.rows, "output" -> c.output.orNull, "error" -> c.error.orNull)),
      "facts" -> facts.toMap,
      "oracles" -> oracles.toMap,
      "peak_rss_mb" -> peakRssMb,
      "layers" -> layers))
  }

  /** `VmHWM` of this JVM. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Traced JVMs only, after the timed calls: time single layers directly. */
  private def probes(spark: SparkSession, o: Opts, zones: Zones, spans: Spans): Map[String, Double] = {
    def ms(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      spans(name)(f)
      (System.nanoTime() - t0) / 1e6
    }
    // graft.sources: translate every vendored OHDSI template. Raw templates
    // still hold their Jinja blocks, and some drive the translator's regexes
    // deep enough to overflow a default thread stack, so translate on a
    // thread with a large stack and count the statements of what translates.
    val dir = Paths.get(getClass.getResource("/graft/ohdsi").toURI)
    val templates = {
      val st = Files.list(dir)
      try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_)).sortBy(_.toString)
      finally st.close()
    }
    var statements = 0L
    val translateMs = ms("graft.sources.OhdsiSql.translateScript") {
      val worker = new Thread(null, () => templates.foreach { t =>
        try statements += OhdsiSql.translateScript(Files.readString(t)).size
        catch { case _: Exception | _: StackOverflowError => () }
      }, "translate-probe", 1L << 29)
      worker.start()
      worker.join()
    }
    // graft.sources: render the etl_folder fixture's query templates
    val folder = Paths.get(o.work, "render-probe")
    writeFolder(folder)
    val renderMs = ms("graft.sources.SqlTemplates.fromFile") {
      etlFolderFiles.map(_._1).filter(_.endsWith(".jinja")).foreach { rel =>
        SqlTemplates.fromFile(folder.resolve(rel), rel.takeWhile(_ != '/'), "raw", "work", "omop")
      }
    }
    // graft.operators: the DQD and generated Achilles batteries, each called
    // directly with a noop sink over the OMOP zone etl_folder wrote; the
    // other workloads write no OMOP zone and read 0 here
    val operators: Map[String, Double] =
      if (o.workload != "etl_folder") Map("operators.dqd_ms" -> 0.0, "operators.achilles_ms" -> 0.0)
      else {
        // the batteries over the fixture's model as far as the written zone
        // holds it: the loads map only some TPC-H columns, write no supplier,
        // part, lineitem or concept table, and re-key the event columns to
        // surrogate longs
        val written = zones.listTables(spark, "omop")
          .map(tb => tb -> zones.read(spark, "omop", tb).schema).toMap
        val model = etlModel.copy(fields = etlModel.fields
          .filter(f => written.get(f.table).exists(_.find(_.name == f.name)
            .exists(_.dataType == etlModel.sparkSchema(f.table)(f.name).dataType)))
          .map(f => f.copy(fkTable = f.fkTable.filter(written.contains))))
        val load: String => DataFrame = tb => zones.read(spark, "omop", tb)
        def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
        Map(
          "operators.dqd_ms" -> ms("graft.operators.DqdChecks.fieldLevel")(
            noop(DqdChecks.fieldLevel(model, load))),
          "operators.achilles_ms" -> ms("graft.operators.AchillesGen.mergedResults")(
            noop(AchillesGen.mergedResults(model, load))))
      }
    // graft.ops: two registered corpus entries over the run's input, each
    // with a noop sink (the store-free MinHash banding and IVF top-k)
    def entryMs(name: String): Double = ms(s"graft.ops/$name") {
      SparkEntry.queries(name)(spark, o.input).write.format("noop").mode("overwrite").save()
    }
    operators ++ Map(
      "ops.minhash_bands_ms" -> entryMs("dedup_minhash_bands"),
      "ops.ivf_topk_ms" -> entryMs("sim_ivf_topk"),
      "sources.translate_ms" -> translateMs,
      "sources.statements" -> statements.toDouble,
      "sources.render_ms" -> renderMs)
  }
}

/** Minimal JSON encoding for the result file. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${encode(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path), encode(v))
}
