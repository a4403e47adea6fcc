package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, sum}

import graft.{GraftSession, Memo, SparkEntry}
import graft.nql.{Nql, NqlCompiler}
import graft.unified.EntityStore

/** Executes one benchmark run described by a plan file and writes the raw
  * record of what happened: one record per timed op, the setup timings,
  * and (traced runs) the spans the [[Tracer]] collected. The plan (pass
  * orders, statement stream) and every statistic are made by the Python
  * side (`perfbench/run.py`); this program only runs ops against graft's
  * public API and times them, with one client thread.
  *
  * Usage: Harness PLAN.json OUT.json
  */
object Harness {

  private type Plan = scala.collection.Map[String, AnyRef]

  /** One executable op: a declared query (build = the query function,
    * action = count) or an NQL statement (parse, compile, then count, or
    * collect for a write's status row), or a store compaction. */
  private sealed trait Op { def name: String; def kind: String }
  private final case class QueryOp(name: String) extends Op { def kind = "query" }
  private final case class StmtOp(name: String, kind: String, text: String) extends Op
  private case object CompactOp extends Op { def name = "compact"; def kind = "compact" }

  private def opsOf(plan: Plan, key: String): Seq[Seq[Op]] =
    plan(key).asInstanceOf[java.util.List[java.util.List[java.util.Map[String, String]]]]
      .asScala.toSeq.map(_.asScala.toSeq.map { m =>
        m.get("kind") match {
          case "query" => QueryOp(m.get("name"))
          case "compact" => CompactOp
          case k => StmtOp(m.get("name"), k, m.get("text"))
        }
      })

  def main(args: Array[String]): Unit = {
    val plan: Plan = new ObjectMapper()
      .readValue(new File(args(0)), classOf[java.util.Map[String, AnyRef]]).asScala
    val out = Paths.get(args(1))
    val dataDir = plan("data_dir").toString
    val storeRoot = plan("store_root").toString
    val seconds = plan("seconds").toString.toDouble
    val traced = plan("trace").toString.toBoolean
    val resetEachPass = plan("reset_each_pass").toString.toBoolean
    val minPasses = plan("min_passes").toString.toInt
    val warmupPasses = plan("warmup_passes").toString.toInt
    val preOps = opsOf(plan, "preload").flatten
    // pass 0 is the setup pass, then the warm-up passes, the rest are timed
    val allPasses = opsOf(plan, "passes")
    val isStore = plan("workload") == "store_rw"

    val t0 = System.nanoTime()
    val spark = GraftSession.local(plan("cpus").toString)
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val tracer = if (traced) Some(new Tracer(spark)) else None

    /** Runs ops against the run's store (or none). */
    final class Runner(store: Option[EntityStore]) {
      private lazy val compiler = new NqlCompiler(spark, dataDir, store)

      def run(r: OpRecord): Unit = {
        val sc = spark.sparkContext
        sc.setJobGroup(s"op-${r.id}", r.op.name, interruptOnCancel = false)
        r.startMs = System.currentTimeMillis()
        val s0 = System.nanoTime()
        try {
          r.op match {
            case QueryOp(name) =>
              val df = SparkEntry.queries(name)(spark, dataDir)
              val s1 = System.nanoTime()
              r.rows = df.count()
              r.buildS = (s1 - s0) / 1e9
              r.actionS = (System.nanoTime() - s1) / 1e9
            case StmtOp(_, kind, text) =>
              val st = Nql.parse(text)
              val s1 = System.nanoTime()
              val df: DataFrame = compiler.compile(st)
              val s2 = System.nanoTime()
              if (kind == "write") {
                // a write returns one small status row; keep its count column
                val rows = df.collect()
                r.rows = rows.length
                r.affected = df.columns.find(AffectedCols).flatMap(c =>
                  rows.headOption.map(_.getAs[Any](c).toString.toLong))
              } else r.rows = df.count()
              r.parseS = (s1 - s0) / 1e9
              r.buildS = (s2 - s1) / 1e9
              r.actionS = (System.nanoTime() - s2) / 1e9
            case CompactOp =>
              store.get.compact()
              r.buildS = (System.nanoTime() - s0) / 1e9
          }
        } catch {
          case e: Throwable =>
            r.error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
        }
        r.wallS = (System.nanoTime() - s0) / 1e9
        r.endMs = System.currentTimeMillis()
        sc.clearJobGroup()
      }
    }

    var opSeq = 0L
    def record(op: Op): OpRecord = { opSeq += 1; new OpRecord(opSeq, op) }
    def reset(): Unit = { Memo.clearArtifacts(spark); spark.catalog.clearCache() }

    /** Runs ops untimed (store preload and setup); their outputs are
      * checked like those of timed ops. */
    val records = ArrayBuffer.empty[OpRecord]
    def untimed(runner: Runner, ops: Seq[Op], pass: Int, phase: String): Unit =
      ops.foreach { op =>
        val r = record(op)
        r.pass = pass; r.phase = phase
        runner.run(r)
        r.error.foreach(e => Console.err.println(s"$phase op ${op.name} failed: $e"))
        records += r
      }

    // ---- setup: table copy and store preload, then one untimed pass ---
    val s0 = System.nanoTime()
    val (runner, storeDir) =
      if (isStore) {
        Nql.execute(spark, dataDir, "CREATE TABLE cust USING parquet AS SELECT * FROM customer").collect()
        val dir = s"$storeRoot/store"
        val runner = new Runner(Some(new EntityStore(spark, dir)))
        untimed(runner, preOps, -1, "preload")
        (runner, Some(dir))
      } else (new Runner(None), None)
    untimed(runner, allPasses(0), 0, "setup")
    val setupS = (System.nanoTime() - s0) / 1e9

    // ---- warm-up: untimed passes while the JIT still speeds ops up ------
    for (p <- 1 to warmupPasses) {
      if (resetEachPass) reset()
      untimed(runner, allPasses(p), p, "warmup")
    }
    val firstTimed = 1 + warmupPasses

    // ---- timed passes -------------------------------------------------
    val overheadNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    val mem = ManagementFactory.getMemoryMXBean
    var passes = 0
    val loopStart = System.nanoTime()
    while (firstTimed + passes < allPasses.size &&
        (passes < minPasses || (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      if (resetEachPass) reset()
      allPasses(firstTimed + passes).foreach { op =>
        val r = record(op)
        r.pass = firstTimed + passes
        tracer.foreach { _ =>
          val h0 = System.nanoTime()
          r.memoBefore = Memo.entryCount(spark)
          r.gcBeforeMs = gcMs
          overheadNs.addAndGet(System.nanoTime() - h0)
        }
        runner.run(r)
        tracer.foreach { t =>
          val h0 = System.nanoTime()
          r.gcAfterMs = gcMs
          r.memoAfter = Memo.entryCount(spark)
          r.heapUsed = mem.getHeapMemoryUsage.getUsed
          storeDir.foreach { d =>
            val (files, bytes) = logFiles(Paths.get(d))
            r.logFiles = files; r.logBytes = bytes
          }
          t.drain()
          overheadNs.addAndGet(System.nanoTime() - h0)
        }
        records += r
      }
      tracer.foreach { t =>
        val h0 = System.nanoTime()
        t.passSnapshot(passes)
        overheadNs.addAndGet(System.nanoTime() - h0)
      }
      passes += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    // ---- end of run: store view, amplification, retained heap --------
    val storeJson = storeDir.map { d =>
      val st = new EntityStore(spark, d)
      val ents = st.entities.select(col("key"), col("props"), col("embedding").isNotNull.as("emb"))
        .collect().map { r =>
          val props = r.getMap[String, String](1).toSeq.sorted
          Json.obj("key" -> Json.str(r.getString(0)),
            "props" -> Json.obj(props.map { case (k, v) => k -> Json.str(v) }: _*),
            "emb" -> r.getBoolean(2).toString)
        }
      val edges = st.edges.collect().map(r =>
        Json.arr(Seq(r.getString(0), r.getString(1), r.getString(2)).map(Json.str)))
      val cust = spark.table("cust").agg(count("*"), sum("c_acctbal")).head()
      val onDisk = treeBytes(Paths.get(d))
      val once = s"$storeRoot/live-once"
      st.entities.write.parquet(s"$once/entities")
      st.edges.write.parquet(s"$once/edges")
      val live = treeBytes(Paths.get(once))
      Json.obj("entities" -> Json.arr(ents.toSeq), "edges" -> Json.arr(edges.toSeq),
        "cust_rows" -> cust.getLong(0).toString, "cust_acctbal" -> cust.getDouble(1).toString,
        "disk_bytes" -> onDisk.toString,
        "live_bytes" -> live.toString)
    }
    tracer.foreach(_.drain())
    // Spark's ContextCleaner frees blocks of unreachable RDDs and
    // broadcasts only after a GC has found them, so collect, let it run,
    // and collect again until the retained heap settles.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val heapRetained = mem.getHeapMemoryUsage.getUsed

    val json = Json.obj(
      "session_start_s" -> sessionStartS.toString,
      "setup_s" -> setupS.toString,
      "loop_s" -> loopS.toString,
      "passes" -> passes.toString,
      "warmup_passes" -> warmupPasses.toString,
      "heap_retained_bytes" -> heapRetained.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "trace_overhead_s" -> (overheadNs.get / 1e9).toString,
      "ops" -> Json.arr(records.toSeq.map(_.json)),
      "store" -> storeJson.getOrElse("null"),
      "trace" -> tracer.map(_.json).getOrElse("null"))
    Files.write(out, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Columns in which a write statement reports how many rows it changed. */
  private val AffectedCols = Set("n_updated", "n_created", "n_deleted", "n_stored", "rows_affected")

  /** Parquet data files and their bytes under a store's two log dirs. */
  private def logFiles(root: Path): (Int, Long) = {
    if (!Files.exists(root)) return (0, 0L)
    val files = Seq("entities", "edges").map(root.resolve).filter(Files.isDirectory(_))
      .flatMap(d => Files.list(d).iterator().asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    (files.size, files.map(Files.size).sum)
  }

  private def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** What happened to one op, as the client thread saw it. */
  private final class OpRecord(val id: Long, val op: Op) {
    var pass = -1
    var phase = "timed"
    var startMs, endMs = 0L
    var parseS, buildS, actionS, wallS = 0.0
    var rows = -1L
    var affected: Option[Long] = None
    var error: Option[String] = None
    var memoBefore, memoAfter = -1
    var gcBeforeMs, gcAfterMs = 0L
    var heapUsed = -1L
    var logFiles = -1
    var logBytes = -1L

    def json: String = Json.obj(
      "id" -> id.toString, "name" -> Json.str(op.name), "kind" -> Json.str(op.kind),
      "pass" -> pass.toString, "phase" -> Json.str(phase), "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
      "parse_s" -> parseS.toString, "build_s" -> buildS.toString,
      "action_s" -> actionS.toString, "wall_s" -> wallS.toString, "rows" -> rows.toString,
      "affected" -> affected.map(_.toString).getOrElse("null"),
      "error" -> error.map(Json.str).getOrElse("null"),
      "memo_before" -> memoBefore.toString, "memo_after" -> memoAfter.toString,
      "gc_ms" -> (gcAfterMs - gcBeforeMs).toString, "heap_used" -> heapUsed.toString,
      "log_files" -> logFiles.toString, "log_bytes" -> logBytes.toString)
  }
}

/** Minimal JSON writer: values are pre-rendered JSON text. */
private[perfbench] object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
