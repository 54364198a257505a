package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM side: one closed-loop client.  It reads a plan
  * written by `perfbench/run.py` (set-up statements, then passes of
  * ops), times each op from outside through the engine's public entry
  * points, and writes raw timings and spans as JSON.  All statistics
  * are computed by the Python side.
  *
  *   Driver <plan.tsv> <result.json>
  */
object Driver {
  final case class Op(id: Int, pass: Int, kind: String, label: String, arg: String, out: String)
  final case class Done(op: Op, startMs: Double, endMs: Double, buildS: Double,
      execS: Double, ok: Boolean, error: String, rows: Long, polls: Seq[Double])

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0)), UTF_8).asScala.map(_.split("\t", -1).toSeq)
    def conf(k: String): String = lines.find(_.head == k).map(_(1)).getOrElse("")
    val cores = conf("cores").toInt
    val traced = conf("trace") == "1"
    val warehouse = conf("warehouse")
    val setupSql = lines.filter(_.head == "setup_sql").map(_(1))
    val passTraced = lines.filter(_.head == "pass").map(l => l(1).toInt -> (l(2) == "1")).toMap
    val warmPasses = conf("warm_passes").toInt
    val ops = lines.filter(_.head == "op").map(l => Op(l(1).toInt, l(2).toInt, l(3), l(4), l(5), l(6)))
    val warmOps = lines.filter(_.head == "warm_op").map(l => Op(-1, -1, l(1), l(2), l(3), l(4)))

    // ---- set-up, timed from JVM start: session build, warmup, workload set-up ----
    val warmFailures = ArrayBuffer[String]()
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    if (warehouse.nonEmpty)
      b.config("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
        .config("spark.sql.catalog.graftcat.root", warehouse)
    if (traced)
      b.config("spark.sql.queryExecutionListeners", classOf[PlanPhases].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamSpans].getName)
    val spark = graft.sources.GraftSession.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.sparkContext.addSparkListener(new JobSpans)
    val t1 = nowMs
    // The generic warmup, the workload's input schemas, and its warm-up
    // ops (mr_kernel's touch every path its timed ops take, and
    // table_rw's warm pass every path of its statements, so the generic
    // warmup runs for catalog_read only): one-time work that would
    // otherwise be billed to whichever timed op the seed puts first.
    if (conf("workload") == "catalog_read") warmup(spark, s"${conf("outputs")}/warmup")
    warmOps.foreach { op =>
      try execute(spark, op, "", ArrayBuffer[Double]())
      catch { case e: Throwable => warmFailures += s"${op.label}: ${e.getClass.getSimpleName}" }
      spark.catalog.clearCache()
    }
    val t2 = nowMs
    setupSql.foreach(s => spark.sql(s).collect())
    val t3 = nowMs

    // ---- passes: the warm ones end set-up, the rest are timed ----
    val done = ArrayBuffer[Done]()
    val passWall = ArrayBuffer[(Int, Boolean, Double)]()
    val selects = ArrayBuffer[(Int, Array[Row])]()
    val jobOutputs = ArrayBuffer[(String, Seq[(String, Long)])]()

    def runPass(pass: Int, passOps: Seq[Op]): Unit = {
      val tr = traced && passTraced.getOrElse(pass, false)
      Trace.on = tr
      val p0 = nowMs
      for (op <- passOps.sortBy(_.id)) {
        spark.sparkContext.setJobGroup(s"graftbench-${op.id}", s"${op.kind} ${op.label}")
        val s0 = nowMs
        var s1 = s0
        var ok = true
        var err = ""
        var rows = -1L
        val polls = ArrayBuffer[Double]()
        try {
          val (built, r, pairs) = execute(spark, op, s"$warehouse/${op.arg}", polls)
          s1 = built
          if (op.out.nonEmpty && r != null) { selects += op.id -> r; rows = r.length }
          if (pairs != null) jobOutputs += op.out -> pairs
        } catch {
          case e: Throwable =>
            ok = false
            err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        val s2 = nowMs
        spark.sparkContext.clearJobGroup()
        done += Done(op, s0, s2, (s1 - s0) / 1e3, (s2 - s1) / 1e3, ok, err, rows, polls.toSeq)
        if (op.kind == "query") spark.catalog.clearCache()
      }
      passWall += ((pass, tr, (nowMs - p0) / 1e3))
    }
    val (warmPassOps, timedPassOps) =
      ops.toSeq.groupBy(_.pass).toSeq.sortBy(_._1).partition(_._1 < warmPasses)
    warmPassOps.foreach { case (pass, passOps) => runPass(pass, passOps) }
    val t4 = nowMs
    // load_s is the workload's own set-up: its set-up statements and
    // warm passes.
    val setupRec = s"""{"total_s":${(t4 - t0) / 1e3},"start_s":${(t1 - t0) / 1e3},""" +
      s""""warmup_s":${(t2 - t1) / 1e3},"load_s":${(t4 - t2) / 1e3},"warm_pass_s":${(t4 - t3) / 1e3}}"""
    System.err.println("[graftbench] set-up done")

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    timedPassOps.foreach { case (pass, passOps) => runPass(pass, passOps) }
    Trace.on = false
    val gcS = (gcMs - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    org.apache.spark.BenchBusAccess.drain(spark.sparkContext)

    // ---- outputs for the correctness check, after the timed window ----
    val outDir = conf("outputs")
    if (selects.nonEmpty) {
      val w = Files.newBufferedWriter(Paths.get(outDir, "selects.jsonl"), UTF_8)
      selects.foreach { case (id, rs) =>
        w.write(s"""{"op":$id,"rows":[${rs.map(r => r.toSeq.map(jsonValue).mkString("[", ",", "]")).mkString(",")}]}""")
        w.newLine()
      }
      w.close()
    }
    jobOutputs.foreach { case (path, pairs) =>
      val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
      pairs.foreach { case (k, v) => w.write(s"$k\t$v"); w.newLine() }
      w.close()
    }
    val tableRec = if (warehouse.nonEmpty) {
      spark.table("graftcat.li").write.mode("overwrite").parquet(s"$outDir/final_table")
      tableStats(s"$warehouse/li")
    } else "{}"

    // ---- record ----
    val opRecs = done.map { d =>
      val lo = d.startMs.toLong
      val hi = math.ceil(d.endMs).toLong
      val trace = if (!traced) "null" else {
        val jobs = Trace.inWindow(Trace.jobs, (j: Trace.Job) => j.startMs, lo, hi)
        val tasks = Trace.inWindow(Trace.tasks, (t: Trace.Task) => t.endMs, lo, hi)
        val plans = Trace.inWindow(Trace.plans, (p: Trace.Plan) => p.startMs, lo, hi)
        val prog = Trace.inWindow(Trace.progress, (p: Trace.Progress) => p.atMs, lo, hi)
        def ts(f: Trace.Task => Long) = tasks.map(f).sum
        s"""{"jobs":${jobs.map(j => s"[${j.startMs},${j.endMs}]").mkString("[", ",", "]")},""" +
          s""""stages":${jobs.map(_.stages).sum},"tasks":${tasks.size},""" +
          s""""task_run_ms":${ts(_.runMs)},"task_cpu_ns":${ts(_.cpuNs)},"gc_ms":${ts(_.gcMs)},""" +
          s""""sched_delay_ms":${ts(_.schedDelayMs)},"scan_bytes":${ts(_.scanBytes)},""" +
          s""""scan_rows":${ts(_.scanRows)},"shuffle_write_bytes":${ts(_.shufWriteBytes)},""" +
          s""""shuffle_write_rows":${ts(_.shufWriteRows)},"shuffle_read_bytes":${ts(_.shufReadBytes)},""" +
          s""""fetch_wait_ms":${ts(_.fetchWaitMs)},"spill_bytes":${ts(_.spillBytes)},""" +
          s""""output_bytes":${ts(_.outBytes)},"output_rows":${ts(_.outRows)},""" +
          s""""analysis_ms":${plans.map(_.analysisMs).sum},"optimizer_ms":${plans.map(_.optimizerMs).sum},""" +
          s""""planning_ms":${plans.map(_.planningMs).sum},"plan_scan_files":${plans.map(_.scanFiles).sum},""" +
          s""""plan_scan_rows":${plans.map(_.scanRows).sum},"batches":${prog.size},""" +
          s""""batch_ms":${prog.map(_.triggerMs).sum},"add_batch_ms":${prog.map(_.addBatchMs).sum},""" +
          s""""query_planning_ms":${prog.map(_.planningMs).sum},"wal_ms":${prog.map(_.walMs).sum},""" +
          s""""state_commit_ms":${prog.map(_.stateCommitMs).sum},""" +
          s""""state_rows":${prog.map(_.stateRows).maxOption.getOrElse(0L)},""" +
          s""""state_bytes":${prog.map(_.stateBytes).maxOption.getOrElse(0L)},""" +
          s""""input_rows":${prog.map(_.inputRows).sum}}"""
      }
      s"""{"id":${d.op.id},"pass":${d.op.pass},"kind":"${d.op.kind}","label":${jsonValue(d.op.label)},""" +
        s""""start_ms":${d.startMs},"end_ms":${d.endMs},"build_s":${d.buildS},"exec_s":${d.execS},""" +
        s""""ok":${d.ok},"error":${jsonValue(d.error)},"rows":${d.rows},""" +
        s""""polls":${d.polls.mkString("[", ",", "]")},"trace":$trace}"""
    }
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Code")).map(_.getUsage.getUsed).sum / 1048576.0
    val oracleSql = graft.SparkEntry.oracleSql
    val oracles = (ops.filter(_.kind == "query").map(_.label) ++
        (if (ops.exists(_.kind == "startjob")) Seq("mr_wordcount") else Nil))
      .distinct.flatMap(l => oracleSql.get(l).map(q => s"${jsonValue(l)}:${jsonValue(q)}"))
    val json = s"""{"oracles":${oracles.mkString("{", ",", "}")},""" +
      s""""warm_failures":${warmFailures.distinct.map(jsonValue).mkString("[", ",", "]")},"setup":$setupRec,""" +
      s""""passes":${passWall.map { case (p, t, w) => s"""{"pass":$p,"traced":$t,"wall_s":$w}""" }.mkString("[", ",", "]")},""" +
      s""""ops":${opRecs.mkString("[\n", ",\n", "]")},""" +
      s""""jvm":{"gc_s":$gcS,"heap_peak_mb":$heapPeakMb,"code_cache_mb":$codeCacheMb,""" +
      s""""vmhwm_mb":${vmHwmMb()},"xmx_mb":${Runtime.getRuntime.maxMemory / 1048576}},""" +
      s""""table":$tableRec,"cores":${spark.sparkContext.defaultParallelism}}"""
    Files.writeString(Paths.get(args(1)), json)
    spark.stop()
  }

  /** Runs one op through the engine's public entry points.  Returns
    * the time its build span ended (the catalogue function returned, or
    * the job was submitted), a SQL query's collected rows and a
    * `startJob`'s collected pairs (null when the op has none). */
  private def execute(spark: SparkSession, op: Op, table: String,
      polls: ArrayBuffer[Double]): (Double, Array[Row], Seq[(String, Long)]) =
    op.kind match {
      case "query" =>
        val df = graft.SparkEntry.queries(op.label)(spark, op.arg)
        val built = nowMs
        df.write.mode("overwrite").parquet(op.out)
        (built, null, null)
      case "startjob" =>
        val ss = spark
        import ss.implicits._
        val docs = graft.sources.Tables.documents(spark, op.arg)
          .select("doc_id", "text").as[(Long, String)]
        val h = graft.mr.MapReduce.startJob(spark, docs, graft.mr.WordCountClient,
          spark.sparkContext.defaultParallelism)
        val built = nowMs
        var st = h.getJobState
        while (!(st.stage == graft.mr.Stage.Reduce && st.percentage >= 100f) &&
               polls.size < 5000) {
          Thread.sleep(2)
          val q0 = System.nanoTime()
          st = h.getJobState
          polls += (System.nanoTime() - q0) / 1e9
        }
        val out = try h.waitForJob() finally h.close()
        (built, null, out)
      case "schema" =>
        op.label.split(',').foreach(t => graft.sources.Tables.table(spark, op.arg, t))
        (nowMs, null, null)
      case "expire" =>
        val v = graft.operators.VersionedTable.latestVersion(Paths.get(table)).get
        spark.sql(s"CALL graftcat.expire('${op.arg}', ${v - 1})").collect()
        (nowMs, null, null)
      case "sql" =>
        val df = spark.sql(op.arg)
        val built = nowMs
        (built, df.collect(), null)
    }

  /** Touch the scan, shuffle, join, window, codegen and parquet-write
    * paths once on generated rows, so that their one-time cost lands in
    * set-up and not in whichever op the seed puts first. */
  private def warmup(spark: SparkSession, scratch: String): Unit = {
    val warm = spark.range(20000L)
      .selectExpr("id", "id % 97 AS k", "md5(CAST(id AS STRING)) AS s")
    warm.groupBy("k").agg(org.apache.spark.sql.functions.countDistinct("s").as("d"))
      .join(warm.select("k", "id").limit(1000), "k")
      .selectExpr("k", "d", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .orderBy("k", "rn")
      .write.mode("overwrite").parquet(scratch)
    spark.read.parquet(scratch).where("k < 10").collect()
  }

  /** Storage shape of the versioned table at its latest version. */
  private def tableStats(table: String): String = {
    import graft.operators.VersionedTable
    val p = Paths.get(table)
    val v = VersionedTable.latestVersion(p).getOrElse(-1L)
    val files = if (v < 0) Seq.empty else VersionedTable.statsManifest(p, v).map(_._1)
    val bytes = files.map(f => Files.size(p.resolve(f))).sum
    s"""{"version":$v,"versions":${VersionedTable.versions(p).size},""" +
      s""""live_files":${files.size},"live_bytes":$bytes}"""
  }

  private def vmHwmMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    }.getOrElse(0.0)

  /** Timestamps as `check.py` prints DuckDB's: microseconds always shown. */
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) jsonValue(d.toString) else d.toString
    case f: Float => jsonValue(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case t: java.time.LocalDateTime => jsonValue(t.format(TsFormat))
    case other => jsonValue(other.toString)
  }
}
