package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark invocation, as parsed from the command line. */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    corpusTag: String, // names the generated corpus the reference outputs belong to
    workDir: String,
    benchDir: String,
    out: String,
    cpus: Int,
    mode: String, // run | speedup | record
    corrupt: String) // "" | fingerprint | exact_pair (self-test fault injection)

object Conf {
  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(get("workload"), get("seed").toLong, get("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", get("data"), get("tag"), get("work"), get("bench"), get("out"),
      get("cpus").toInt, kv.getOrElse("mode", "run"), kv.getOrElse("corrupt", ""))
  }
}

/** What one workload run returns to [[Main]]. `metrics` are the
  * end-to-end (untraced) or per-layer (traced) numbers; `info` is the
  * context record printed alongside them. */
final case class Outcome(attempted: Long, failed: Long,
                         metrics: Map[String, Double],
                         info: Map[String, Any],
                         failures: Seq[String])

object Session {
  /** The session configuration of graft's `Bench.main`, at `cpus` cores,
    * with every scratch location inside the benchmark's work dir. */
  def create(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.workDir}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Number of samples strictly above the q-quantile. */
  def beyond(xs: collection.Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap still reachable after a full collection, MB. */
  def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Deterministic permutation of `xs` for a seed. */
  def shuffle[A](xs: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(seed).shuffle(xs)
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
