package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Metric(name: String, value: Double, unit: String)

/** The last stdout line of a run. `failed` counts ops the program reported
  * as failed or whose output failed its check; `correct` is false only when
  * an op the program reported as successful failed its output check.
  */
final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def json: String = Json.obj(Seq(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> Json.Raw(Json.obj(metrics.map(m =>
      m.name -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit))))))))
}

/** Minimal JSON writer for flat records. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(java.lang.Double.isFinite(d), s"non-finite metric value $d")
      d.toString
    case n @ (_: Int | _: Long) => n.toString
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Common {

  /** The session every workload runs in: local[4] with one shuffle
    * partition per core, scratch space kept inside the run's work dir.
    */
  def session(work: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.files.minPartitionNum", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Runs a DataFrame's full plan into a sink that keeps nothing. Unlike
    * count(), the noop sink cannot let the optimizer prune columns or
    * operators whose output nobody reads.
    */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** CPU time of every thread of this process so far, in seconds. Unlike
    * wall time it does not grow while the host runs other tenants.
    */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap in use after full collections, in MB: the live set. Spark drops
    * the blocks and broadcasts an op released on a cleaner thread after a
    * collection finds them unreachable, so one collection can still count
    * them; collect until two readings agree within 1 MB (at most 8 times).
    */
  def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var tries = 1
    var cur = { Thread.sleep(100); used() }
    while (math.abs(cur - prev) > 1.0 && tries < 8) {
      prev = cur
      Thread.sleep(100)
      cur = used()
      tries += 1
    }
    cur
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    delete(to)
    val src = Paths.get(from)
    val all = Files.walk(src)
    try all.iterator().asScala.foreach { p =>
      val dst: Path = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally all.close()
  }

  /** Bytes of the data files under a directory (Spark's checksum and
    * marker files excluded).
    */
  def dataBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val all = Files.walk(p)
      try all.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_SUCCESS"))
        .map(f => Files.size(f)).sum
      finally all.close()
    }
  }

  def mkdirs(path: String): String = { new File(path).mkdirs(); path }
}

/** Graphs the workloads start from, built once per program version and
  * kept under the build directory between runs. Each is a fixed input, not
  * drawn from the seed, so every run of a workload reuses it.
  */
object Fixtures {
  def graph(spark: org.apache.spark.sql.SparkSession, a: Args, name: String, convIds: Seq[Long]): String = {
    val stamp = sys.props.getOrElse("perfbench.stamp", "unstamped").take(16)
    val dir = s"${a.fixtures}/$name-$stamp-${convIds.size}"
    val done = new File(s"$dir/_FIXTURE_COMPLETE")
    if (!done.exists()) {
      Option(new File(a.fixtures).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"$name-")).foreach(f => Common.delete(f.getPath))
      val corpus = Kg.writeCorpus(spark, s"$dir.input", convIds)
      val qa = graft.app.KgBuild.run(spark, Kg.read(spark, corpus), Kg.config(s"kg-build:$name"), dir)
      require(qa.status == "pass", s"fixture $name failed QA: ${qa.anomalies}")
      Common.delete(s"$dir.input")
      Files.createFile(done.toPath)
    }
    dir
  }
}

