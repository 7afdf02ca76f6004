package graftbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.types.StructType

/** One benchmark run in a fresh JVM, driven by perfbench/run.py.
  *
  * Set-up: a `local[4]` session, then one warm-up pass over the workload's
  * classes in their listed order (fixed count and order, so every run does
  * the same set-up work). The first result of each class is kept as the
  * reference every later repetition must equal. Timed window: whole passes,
  * one op at a time (closed loop, one client), until `--seconds` have elapsed
  * and at least `--min-passes` passes have run, so that a host a little
  * faster or slower does not change the number of samples. Each pass runs
  * every class once, in an order drawn from `--seed`. An op is the
  * `SparkEntry.queries(name)` call plus a `collect()` of the full, ordered
  * result.
  *
  * Writes into `--out`: ops.jsonl (one line per op), run.json, results/<class>
  * (first result, parquet, for the DuckDB oracle), oracle_sql.json and, when
  * traced, spans.jsonl. */
object GraftBench {
  private val Cpus = 4
  private val WarmupPasses = 1
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val classes = opt("classes").split(",").toSeq
    val dataDir = opt("data")
    val outDir = opt("out")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt

    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark, Cpus)) else None
    val queries = graft.SparkEntry.queries
    val unknown = classes.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query classes: ${unknown.mkString(",")}")

    // class -> (schema, first result, ORDER BY key columns)
    val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row], Option[Seq[Int]])]
    val opsOut = new PrintWriter(s"$outDir/ops.jsonl")
    var opId = 0

    def runOp(name: String, stage: String, pass: Int): Unit = {
      opId += 1
      tracer.foreach(_.beginOp(opId, name))
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      var buildEndMs = startMs
      var df: Option[DataFrame] = None
      var rows = 0L
      val err: Option[String] =
        try {
          val d = queries(name)(spark, dataDir)
          buildEndMs = System.currentTimeMillis()
          df = Some(d)
          val result = d.collect()
          rows = result.length
          first.get(name) match {
            case None => first(name) = (d.schema, result, sortKeys(d)); None
            case Some((_, ref, keys)) if sameRows(ref, result, keys) => None
            case Some(_) => Some("result differs from the class's first result")
          }
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val endMs = System.currentTimeMillis()
      val layers = tracer.map(_.endOp(OpTiming(opId, name, startMs, buildEndMs, endMs, df, rows)))
        .getOrElse(Nil)
      val fields = ListMap("op" -> opId, "class" -> name, "stage" -> stage, "pass" -> pass,
        "wall_ms" -> wallMs, "build_ms" -> (buildEndMs - startMs), "rows" -> rows,
        "ok" -> err.isEmpty, "err" -> err.orNull) ++ layers
      opsOut.println(json.writeValueAsString(fields))
    }

    def runPass(order: Seq[String], stage: String, pass: Int): Double = {
      val t0 = System.nanoTime()
      order.foreach(runOp(_, stage, pass))
      (System.nanoTime() - t0) / 1e9
    }

    val warm = (1 to WarmupPasses).map(p => runPass(classes, "warmup", -p))
    val firstTimedMs = System.currentTimeMillis()
    val w0 = System.nanoTime()
    val timed = mutable.ArrayBuffer.empty[Double]
    while (timed.size < minPasses || (System.nanoTime() - w0) / 1e9 < seconds)
      timed += runPass(new scala.util.Random(seed * 1000003L + timed.size).shuffle(classes),
        "timed", timed.size)
    val windowS = (System.nanoTime() - w0) / 1e9
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    opsOut.close()

    first.foreach { case (name, (schema, rows, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/results/$name")
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(ListMap.from(classes.flatMap(c => oracle.get(c).map(c -> _)))))
    tracer.foreach { t =>
      val w = new PrintWriter(s"$outDir/spans.jsonl")
      t.spans.foreach { s =>
        w.println(json.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      }
      w.close()
    }
    Files.writeString(Paths.get(s"$outDir/run.json"), json.writeValueAsString(ListMap(
      "first_timed_ms" -> firstTimedMs, "window_s" -> windowS,
      "warmup_pass_s" -> warm, "timed_pass_s" -> timed.toSeq, "peak_rss_mb" -> peakRssMb)))
    spark.stop()
  }

  /** Output columns of the query's final ORDER BY, when every sort key is
    * one of them. */
  private def sortKeys(d: DataFrame): Option[Seq[Int]] = {
    val plan = d.queryExecution.optimizedPlan
    val out = plan.output.map(_.exprId)
    plan.collectFirst { case s: Sort if s.global => s.order.map(_.child) }.flatMap { keys =>
      val idx = keys.map { case a: Attribute => out.indexOf(a.exprId); case _ => -1 }
      if (idx.contains(-1)) None else Some(idx)
    }
  }

  /** Same rows in the same order. Rows that tie on every ORDER BY key may
    * trade places: the key columns must then come in the same order and the
    * rows must be the same multiset. Without known keys the order must match
    * exactly. */
  private def sameRows(a: Array[Row], b: Array[Row], keys: Option[Seq[Int]]): Boolean = {
    def canon(rs: Array[Row]): Seq[String] = rs.toSeq.map(_.toSeq.map {
      case bytes: Array[Byte] => bytes.mkString("0x[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("\u0001")).sorted
    a.sameElements(b) || keys.exists { k =>
      def key(r: Row): Seq[String] = k.map(i => String.valueOf(r.get(i)))
      a.length == b.length && a.iterator.map(key).sameElements(b.iterator.map(key)) &&
        canon(a) == canon(b)
    }
  }
}
