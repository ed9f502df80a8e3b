package perfbench

import java.io.{BufferedReader, FileDescriptor, FileOutputStream, InputStreamReader, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{Config, QueryOptions}
import graft.log.{LogQuery, LogStore, RecordLog}
import graft.ops.Materialize
import graft.oracle.Duck
import graft.render.JsonArrayRender
import graft.server.HttpService
import graft.streaming.StreamingLog

/** The benchmark's JVM side: hosts the program's HTTP service on a
  * SparkSession configured like `graft.Main`, and runs the traced
  * layer-by-layer calls. The load generator (`run.py`) drives it with one
  * JSON command per stdin line; each command gets one reply line on
  * stdout, prefixed `@@`. Everything else the JVM prints goes to stderr.
  *
  *   java -cp <classpath> perfbench.Harness <work dir> <cores>
  */
object Harness {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  def main(args: Array[String]): Unit = {
    val proto = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    val h = new Harness(args(0), args(1))
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    proto.println("@@" + mapper.writeValueAsString(Map("ready" -> true)))
    var line = in.readLine()
    while (line != null) {
      val cmd = mapper.readTree(line)
      val reply =
        try h.handle(cmd)
        catch { case e: Throwable => Map("error" -> e.toString) }
      proto.println("@@" + mapper.writeValueAsString(reply))
      line = if (cmd.get("cmd").asText == "quit") null else in.readLine()
    }
    h.shutdown()
    System.exit(0)
  }
}

/** A render sink that keeps only counts: the direct path's stand-in for
  * the socket. */
final class CountingSink extends (String => Unit) {
  var calls = 0L
  var bytes = 0L
  def apply(s: String): Unit = { calls += 1; bytes += s.length }
  /** Records rendered: every call except `[`, the pioneer and `]`. */
  def records: Long = math.max(0L, calls - 3)
}

final class Harness(work: String, cores: String) {
  private var spark: SparkSession = _
  private var svc: HttpService = _
  private var fixture: String = _
  private var tracer: Tracer = _

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def handle(c: JsonNode): Map[String, Any] = {
    def str(k: String) = c.get(k).asText
    c.get("cmd").asText match {
      case "oracle_sql" =>
        val names = c.get("names").elements().asScala.map(_.asText).toSeq
        Map("sql" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap,
          "recs_multi_with" -> Duck.recsMultiWith,
          "partition_sql" -> Duck.murmur2PartitionSql("k", RecordLog.NumPartitions))
      case "session" =>
        val t0 = System.nanoTime()
        spark = SparkSession.builder()
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.extensions", "graft.plans.GraftExtensions")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        Map("session_s" -> secs(t0))
      case "setup" => setup(str("fixture"), Option(c.get("archive")).map(_.asText))
      case "stream_dir" => Map("dir" -> StreamingLog.streamDir(fixture))
      case "hygiene" => hygiene()
      case "heap" =>
        // What the service still holds: used heap after a full collection.
        System.gc()
        val rt = Runtime.getRuntime
        Map("used_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0)
      case "teardown" =>
        val h = hygiene()
        teardown()
        h
      case "trace_on" =>
        tracer = new Tracer(spark); tracer.install(); Map("ok" -> true)
      case "trace_off" =>
        tracer.uninstall(); Map("ok" -> true)
      case "open" => tracer.open(str("rid")); Map("ok" -> true)
      case "close" =>
        tracer.close()
        val (rid, s, e) = (str("rid"), c.get("start_us").asLong, c.get("end_us").asLong)
        val root = tracer.record(rid, 0, "http", s, e)
        tracer.execStats(rid, s, e) + ("span" -> root.id)
      case "direct_search" =>
        val args = c.get("args").fields().asScala.map(f => f.getKey -> f.getValue.asText).toMap
        directSearch(str("rid"), args)
      case "direct_pipeline" => directPipeline(str("rid"), str("name"))
      case "progress" =>
        Map("batches" -> tracer.streamProgress.map(p => Map("batch_id" -> p.batchId,
          "start_ms" -> p.startMs, "input_rows" -> p.inputRows,
          "durations_ms" -> p.durations)))
      case "dump_spans" => Map("spans" -> dumpSpans(str("path")))
      case "quit" => Map("ok" -> true)
      case other => Map("error" -> s"unknown command $other")
    }
  }

  /** One set-up of the service: when `archive` is given, archive the
    * fixture's topics into that fresh directory (the layout `graft.Bench`
    * times) and point the record source at it; then start the HTTP
    * service with the fixture as cluster `bench`. */
  private def setup(fixtureDir: String, archive: Option[String]): Map[String, Any] = {
    fixture = fixtureDir
    val t0 = System.nanoTime()
    // The archive is built from the live layout, so the archive source
    // must be off while it is written.
    spark.conf.unset("spark.graft.recordSource")
    archive.foreach { dir =>
      LogStore.ensureMaterialized(spark, fixture, dir)
      spark.conf.set("spark.graft.recordSource", "archive")
      spark.conf.set("spark.graft.archiveDir", dir)
    }
    val archiveS = secs(t0)
    val t1 = System.nanoTime()
    val config = Config.Defaults.copy(port = 0,
      kafkaBootstrapServers = Map("bench" -> fixture))
    svc = new HttpService(spark, 0, config).start()
    Map("port" -> svc.boundPort, "archive_s" -> archiveS, "service_s" -> secs(t1))
  }

  /** The leak signals: frames still registered with Materialize, streaming
    * queries still running, and deadline timer threads still alive. */
  private def hygiene(): Map[String, Any] = Map(
    "ops.materialize_live" -> Materialize.liveCount(spark),
    "ops.follow_queries_live" -> spark.streams.active.length,
    "ops.deadline_threads_live" -> Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith("graft-deadline-")))

  private def teardown(): Unit = {
    if (svc != null) { svc.stop(); svc = null }
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    Materialize.releaseAll(spark)
    spark.catalog.clearCache()
  }

  def shutdown(): Unit = if (spark != null) {
    try teardown() catch { case _: Exception => () }
    spark.stop()
  }

  /** `/search` without HTTP: the handler's build (`LogQuery.stream` +
    * `sortWithinPartitions` + `.schema`) and render into a counting sink,
    * each in its own span. */
  private def directSearch(rid: String, args: Map[String, String]): Map[String, Any] = {
    tracer.open(rid)
    val sink = new CountingSink
    var build: Span = null
    var render: Span = null
    val (_, root) = tracer.span(rid, 0, "direct") { id =>
      val (opts, _) = tracer.span(rid, id, "core.options")(_ => QueryOptions.fromMap(args))
      val (df, b) = tracer.span(rid, id, "log.build") { _ =>
        val d = LogQuery.stream(spark, opts.bootstrapServers, opts)
          .sortWithinPartitions("type", "topic", "partition", "offset")
        d.schema
        d
      }
      build = b
      render = tracer.span(rid, id, "render")(_ => JsonArrayRender.render(df, sink))._2
    }
    tracer.close()
    Map("log.build_s" -> dur(build), "direct_s" -> dur(root)) ++
      renderStats(rid, render, sink)
  }

  /** `/pipeline` without HTTP: the registered query's build (eager jobs
    * included) and its verbatim render into a counting sink, with the
    * request's Materialize frames released afterwards as the handler does. */
  private def directPipeline(rid: String, name: String): Map[String, Any] = {
    tracer.open(rid)
    val sink = new CountingSink
    var build: Span = null
    var render: Span = null
    val (_, frames) = Materialize.collecting {
      tracer.span(rid, 0, "direct") { id =>
        val (df, b) = tracer.span(rid, id, "pipeline.build") { _ =>
          val d: DataFrame = SparkEntry.queries(name)(spark, fixture)
          d.schema
          d
        }
        build = b
        render = tracer.span(rid, id, "pipeline.exec") { _ =>
          JsonArrayRender.renderVerbatim(df, sink)
        }._2
      }
    }
    Materialize.release(frames)
    tracer.close()
    val all = tracer.jobsOf(rid)
    val wall = (render.endUs - build.startUs) / 1e6
    Map("pipeline.build_s" -> dur(build),
      "pipeline.build_jobs" -> tracer.jobsIn(rid, build.startUs, build.endUs).size,
      "pipeline.exec_s" -> dur(render),
      "pipeline.jobs" -> all.size,
      "pipeline.driver_gap_s" -> (wall - tracer.busyUs(all, build.startUs, render.endUs) / 1e6),
      "direct_s" -> wall) ++ renderStats(rid, render, sink)
  }

  private def dur(s: Span): Double = (s.endUs - s.startUs) / 1e6

  private def renderStats(rid: String, r: Span, sink: CountingSink): Map[String, Any] = {
    val js = tracer.jobsIn(rid, r.startUs, r.endUs)
    val wall = dur(r)
    Map("render.s" -> wall, "render.jobs" -> js.size,
      "render.driver_s" -> (wall - tracer.busyUs(js, r.startUs, r.endUs) / 1e6),
      "render.records" -> sink.records, "render.bytes" -> sink.bytes,
      "render.us_per_record" -> (if (sink.records > 0) wall * 1e6 / sink.records else 0.0))
  }

  /** Write every span, with each listener-reported job as a child of the
    * innermost span it started in, as a JSON array. Returns the count. */
  private def dumpSpans(path: String): Int = {
    val spans = tracer.allSpans
    val jobSpans = spans.map(_.rid).distinct.flatMap { rid =>
      val mine = spans.filter(_.rid == rid)
      tracer.jobsOf(rid).map { j =>
        val parent = mine.filter(s => s.startUs <= j.startUs && j.startUs <= s.endUs)
          .sortBy(s => s.endUs - s.startUs).headOption.map(_.id).getOrElse(0L)
        tracer.record(rid, parent, s"spark.job.${j.id}", j.startUs,
          if (j.endUs < 0) j.startUs else j.endUs)
      }
    }
    val all = spans ++ jobSpans
    val rows = all.map(s => Map("rid" -> s.rid, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    Harness.writeJson(path, rows)
    all.size
  }
}
