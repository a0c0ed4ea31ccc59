package perfbench

import graft.{GraftSession, WordCountMain}
import graft.mr.{MapReduce, Mapper, WordCountMapper, WordCountReducer}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.util.LongAccumulator

/** One benchmark run: make the inputs, set up, repeat the workload's pass
  * for the given seconds, check every output, write the result (and with
  * `--trace 1` the per-layer trace) as JSON. Run through perfbench/run.py,
  * which builds the classes, gives the run a fresh temp dir and prints
  * the result line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      threads: Int, work: Path, data: Path, result: Path, traceOut: Path)

  /** A workload: inputs the harness makes from the seed, engine-side
    * staging that counts toward `setup_s`, and one pass of named units
    * that the closed loop repeats. */
  trait Workload {
    /** Writes the inputs under `dir`: the harness's own work, untimed. */
    def prepare(dir: Path): Unit
    /** `spark.sql.shuffle.partitions` of the session. */
    def shufflePartitions(threads: Int): Int = 8
    /** Engine-side staging once the session exists; part of `setup_s`. */
    def stage(spark: SparkSession): Unit = ()
    /** The units of one pass, in order. */
    def units: Seq[String]
    /** Untimed passes run before the clock starts. */
    def warmUpPasses: Int
    /** Passes a run times at least, however short `--seconds` is. */
    def minPasses: Int
    def run(spark: SparkSession, unit: String, out: Path, mapper: Mapper): Unit
    /** Checks one unit's output after its clock stopped. */
    def check(unit: String, out: Path): Option[String]
    /** Untimed checks made once per run, before the timed passes. */
    def verify(spark: SparkSession): Seq[(String, Option[String])] = Nil
    def inputBytes: Long
    /** The scan alone, over the same inputs with the same reader. */
    def scanOnly(spark: SparkSession): Unit
    /** A fixed text for the direct tokenizer timing. */
    def slice(spark: SparkSession): String
  }

  private def readSlice(f: Path, bytes: Int): String = {
    val all = Files.readAllBytes(f)
    val end = all.lastIndexOf('\n'.toByte, math.min(bytes, all.length) - 1) + 1
    new String(all, 0, end, US_ASCII)
  }

  /** The paper's application at ~30x the Gutenberg corpus. */
  final class ZipfWordCount(seed: Long) extends Workload {
    private val NReduce = 5
    private val gen = new Corpus.Zipf(seed, 50000)
    private var staged: Corpus.Staged = _
    private var expected: Map[String, Long] = _
    def prepare(dir: Path): Unit = {
      val (s, e) = gen.stage(dir, 8, 32L << 20)
      staged = s; expected = e
    }
    val units = Seq("wc_wordcount_main")
    def warmUpPasses = 2
    def minPasses = 6
    def inputBytes: Long = staged.bytes
    def run(spark: SparkSession, unit: String, out: Path, mapper: Mapper): Unit =
      WordCountMain.main(Array(staged.files.mkString(","), out.toString, NReduce.toString))
    def check(unit: String, out: Path): Option[String] = Check.bucketedCounts(out, expected, NReduce)
    def scanOnly(spark: SparkSession): Unit =
      spark.read.text(staged.files.map(_.toString): _*).write.format("noop").mode("overwrite").save()
    def slice(spark: SparkSession): String = readSlice(staged.files.head, 4 << 20)
  }

  /** Near-unique keys through the typed whole-file MapReduce surface. */
  // WordCountMain sets max(nReduce, 8) shuffle partitions on the session
  // it is given; the typed MapReduce job runs under the same value
  final class HighCardMapReduce(seed: Long) extends Workload {
    private val gen = new Corpus.HighCard(seed, 1000000)
    private var staged: Corpus.Staged = _
    def prepare(dir: Path): Unit = staged = gen.stage(dir, 4)
    val units = Seq("wc_mapreduce_highcard")
    def warmUpPasses = 2
    def minPasses = 6
    def inputBytes: Long = staged.bytes
    def run(spark: SparkSession, unit: String, out: Path, mapper: Mapper): Unit =
      MapReduce.runOnFiles(spark, staged.files.map(_.toString), mapper, WordCountReducer)
        .select(concat_ws("\t", col("key"), col("value")))
        .write.text(out.toString)
    def check(unit: String, out: Path): Option[String] = Check.highCardCounts(out, gen)
    def scanOnly(spark: SparkSession): Unit =
      spark.sparkContext.wholeTextFiles(staged.files.mkString(",")).foreach(_ => ())
    def slice(spark: SparkSession): String = readSlice(staged.files.head, 4 << 20)
  }

  /** Counts the pairs the wrapped mapper emits (traced runs only). */
  final class CountingMapper(inner: Mapper, acc: LongAccumulator) extends Mapper {
    def map(name: String, contents: String): Iterator[(String, String)] =
      inner.map(name, contents).map { kv => acc.add(1); kv }
  }

  def workload(name: String, seed: Long, data: Path): Workload = name match {
    case "wordcount_zipf" => new ZipfWordCount(seed)
    case "mapreduce_highcard" => new HighCardMapReduce(seed)
    case "registry_sf0.001" => new Registry.Workload(data.resolve("sf0.001"), data.resolve("sf0.001.manifest.json"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("threads").toInt, Paths.get(need("work")), Paths.get(need("data")),
      Paths.get(need("result")), Paths.get(need("trace-out")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The value below which a share `p` of the sorted values lie (nearest rank). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Per-pass counts are summed over the pass's units, except these. */
  private val maxOverUnits = Set("agg.peak_exec_mem_mb")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a.workload, a.seed, a.data)
    val master = s"local[${a.threads}]"
    Memory.install()

    // the inputs are the harness's own work and are made before the clock
    val prepareS = secondsOf(wl.prepare(a.work.resolve("input")))
    // Set-up: one cold session build in this fresh JVM plus the engine's
    // own staging
    var spark: SparkSession = null
    val buildS = secondsOf {
      spark = GraftSession.build(master, wl.shufflePartitions(a.threads), "perfbench")
    }
    val setupS = buildS + secondsOf(wl.stage(spark))

    var attempted = 0
    var failed = 0
    var sinkFiles = 0.0
    val families = Registry.families.map(_ -> 0.0).toMap
    /** One unit, timed from its inputs to its final output; the output
      * check runs after the clock stops. */
    def unit(u: String, i: Int, mapper: Mapper = WordCountMapper)(time: (=> Unit) => Unit): Option[Double] = {
      val out = a.work.resolve(s"out-$i")
      attempted += 1
      var secs = 0.0
      val ok = try {
        time { secs = secondsOf(wl.run(spark, u, out, mapper)) }
        wl.check(u, out) match {
          case None => true
          case Some(err) => System.err.println(s"[perfbench] $u ($i) wrong output: $err"); false
        }
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $u ($i) failed: $e"); false
      }
      if (ok && Files.isDirectory(out)) {
        val files = Files.walk(out)
        try sinkFiles = files.filter(_.getFileName.toString.startsWith("part-")).count().toDouble
        finally files.close()
      }
      deleteTree(out)
      if (ok) Some(secs) else { failed += 1; None }
    }
    val plain: (=> Unit) => Unit = body => body
    /** One pass over the units: the time of each unit that succeeded, or
      * None if any failed. */
    def pass(p: Int, traced: String => ((=> Unit) => Unit), mapper: Mapper = WordCountMapper) = {
      val times = wl.units.zipWithIndex.map { case (u, k) => u -> unit(u, p * 1000 + k, mapper)(traced(u)) }
      if (times.forall(_._2.isDefined)) Some(times.map { case (u, t) => u -> t.get }) else None
    }

    // checks made once, then warm-up: class loading, codegen and JIT are
    // still settling after one pass, and the first timed passes would read slow
    wl.verify(spark).foreach { case (u, err) =>
      attempted += 1
      err.foreach { e => System.err.println(s"[perfbench] $u wrong output: $e"); failed += 1 }
    }
    (1 to wl.warmUpPasses).foreach(w => pass(-w, _ => plain))
    val start = System.nanoTime()
    def more(n: Int) = n <= wl.minPasses || (System.nanoTime() - start) / 1e9 < a.seconds

    val host = Map[String, Any]("availableProcessors" -> Runtime.getRuntime.availableProcessors,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"), "spark_version" -> spark.version,
      "threads" -> a.threads, "master" -> master, "input_bytes" -> wl.inputBytes,
      "units_per_pass" -> wl.units.size, "prepare_s" -> prepareS)
    def total(ps: Seq[Seq[(String, Double)]]) = median(ps.map(_.map(_._2).sum))

    val metrics: Map[String, (Double, String)] = if (!a.trace) {
      val passes = Iterator.from(1).takeWhile(more).flatMap(p => pass(p, _ => plain)).toSeq
      System.err.println(s"[perfbench] job_s: ${passes.map(ps => f"${ps.map(_._2).sum}%.3f").mkString(" ")}")
      Map("setup_s" -> (setupS, "s"),
        "job_s" -> (total(passes), "s"),
        "native_peak_mb" -> (Memory.nativePeakMb(), "MB"))
    } else {
      val trace = new Trace(spark)
      val large = new Registry.LargeBinaryCounter
      val acc = spark.sparkContext.longAccumulator("perfbench.map.records_out")
      val counting = new CountingMapper(WordCountMapper, acc)
      val untraced = collection.mutable.Map.empty[Int, Seq[(String, Double)]]
      val traced = collection.mutable.ArrayBuffer.empty[(Int, Double, Map[String, Double])]
      val spans = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      // odd passes untraced, even ones traced, and an untraced pass last,
      // so every traced pass has an untraced one on each side
      var p = 1
      while (more(p) || p % 2 == 1) {
        if (p % 2 == 1) pass(p, _ => plain).foreach(untraced(p) = _)
        else {
          val perUnit = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
          large.attach()
          trace.attach()
          try pass(p, u => body => {
            acc.reset()
            val (c, s) = trace.job(s"pass-$p/$u", a.threads)(body)
            spans ++= s
            // the SQL tokenizer's rows come from its Filter nodes; the typed
            // mapper's pairs from the counting wrapper
            perUnit += c + ("map.records_out" -> (if (acc.value > 0) acc.value.toDouble else c("map.records_out")))
          }, counting).foreach { times =>
            val secs = times.map(_._2).sum
            val sums = perUnit.flatMap(_.keys).distinct.map { k =>
              val vs = perUnit.map(_.getOrElse(k, 0.0))
              k -> (if (maxOverUnits(k)) vs.max else vs.sum)
            }.toMap
            // cpu_util over the pass: each unit's share weighted by its time
            val cpu = perUnit.zip(times).map { case (c, (_, t)) => c("cpu_util") * t }.sum / secs
            traced += ((p, secs, sums ++ Map("cpu_util" -> cpu, "sink.files" -> sinkFiles,
              "registry.large_task_binary" -> large.take().toDouble)))
          } finally { trace.detach(); large.detach() }
        }
        p += 1
      }
      trace.attach()
      val (scan, scanSpans) = try trace.job("scan-only", a.threads)(wl.scanOnly(spark))
        finally trace.detach()
      spans ++= scanSpans
      val text = wl.slice(spark)
      val nsPerToken = median((1 to 5).map { _ =>
        var n = 0
        val s = secondsOf { n = WordCountMapper.map("slice", text).size }
        s * 1e9 / math.max(n, 1)
      })
      // medians over the traced passes
      val perPass = traced.flatMap(_._3.keys).distinct
        .map(k => k -> median(traced.map(_._3(k)).toSeq)).toMap.withDefaultValue(0.0)
      val unitMedians = wl.units.map(u => median(untraced.values.map(_.toMap.apply(u)).toSeq))
      // each traced pass against the mean of its two untraced neighbours,
      // which cancels the drift of a run that is still warming up
      def passS(q: Int) = untraced.get(q).map(_.map(_._2).sum)
      val overhead = median(traced.toSeq.flatMap { case (q, secs, _) =>
        for (before <- passS(q - 1); after <- passS(q + 1)) yield secs - (before + after) / 2 })
      val familyS = families ++ wl.units.zip(unitMedians).groupBy(x => Registry.family(x._1))
        .map { case (f, xs) => f -> xs.map(_._2).sum }
      val mapOut = perPass("map.records_out")
      val layer = perPass - "map.shuffle_records" ++ familyS.map { case (f, s) => s"registry.${f}_s" -> s } ++ Map(
        "session.build_s" -> buildS,
        "heap.after_gc_peak_mb" -> Memory.heapAfterGcPeakMb(),
        "scan.task_s" -> scan("map.task_s"),
        "combine.ratio" -> (if (mapOut > 0) perPass("map.shuffle_records") / mapOut else 0.0),
        "WordCountMapper.ns_per_token" -> nsPerToken,
        "query_s.p50" -> median(unitMedians),
        "query_s.p90" -> percentile(unitMedians, 0.9),
        "failed_frac" -> failed.toDouble / attempted,
        "trace.overhead_s" -> overhead)
      def unitOf(k: String) =
        if (k.endsWith("_s") || k.startsWith("query_s")) "s" else if (k.contains("bytes")) "bytes"
        else if (k.endsWith("_mb")) "MB" else if (k.endsWith("ns_per_token")) "ns"
        else if (Set("combine.ratio", "cpu_util", "failed_frac")(k)) "ratio" else "count"
      Files.writeString(a.traceOut, Json(Map(
        "workload" -> a.workload, "seed" -> a.seed, "host" -> host, "units" -> wl.units,
        "untraced_passes" -> untraced.toSeq.sortBy(_._1).map { case (q, ts) => Map("pass" -> q, "pass_s" -> ts.map(_._2).sum) },
        "traced_passes" -> traced.map { case (q, s, c) => Map("pass" -> q, "pass_s" -> s, "counts" -> c) }.toSeq,
        "per_layer" -> layer, "spans" -> spans.toSeq)))
      layer.map { case (k, v) => k -> (v, unitOf(k)) }
    }
    spark.stop()

    val result = Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.writeString(a.result, Json(Map("result" -> result, "host" -> host,
      "info" -> (wl match {
        case r: Registry.Workload => r.info
        case _ => Map("seed" -> a.seed)
      }))))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
