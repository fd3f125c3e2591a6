package perfbench

import graft.{MemoKeep, Tables}
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The benchmark's entry point. It reaches the engine only through its
  * public entry points: `SparkEntry.queries`, `Tables.load` and the
  * shared-store build functions `graft.Bench` calls.
  *
  *   gen <dataRoot> <expected.json>
  *     writes every rung's tables and checks them against the pinned
  *     fingerprints;
  *   run --workload W --seed N --seconds S --trace 0|1 --data <dataRoot>
  *       --expected <expected.json> --out <result.json> [--spans <file>]
  *     one run of one workload (see [[Run]]);
  *   record --workload W --data <dataRoot> [--ops a,b]
  *     runs each op once in listed order and prints its latency and
  *     checksum, the source of the pinned op checksums;
  *   workloads
  *     prints the workload definitions as JSON.
  */
object Main {
  /** Data rungs by name, as scales of the sf0.1 row counts. */
  val Rungs: Map[String, Double] = Map("sf001" -> 0.1)

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("gen") => gen(args(1), args(2))
      case Some("run") => Run.main(opts(args.tail.toSeq))
      case Some("record") => Run.record(opts(args.tail.toSeq))
      case Some("workloads") =>
        println(Json.arr(Workloads.all.map(w => Json.obj(Seq(
          "name" -> Json.str(w.name), "rung" -> Json.str(w.rung),
          "stores" -> Json.arr(w.stores.map(Json.str)),
          "ops" -> Json.arr(w.ops.map(Json.str)))))))
        0
      case _ =>
        System.err.println("usage: gen | run | record (see Main.scala)")
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def opts(as: Seq[String]): Map[String, String] =
    as.grouped(2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** `graft.Bench`'s session confs, on every core of the machine. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.network.timeout", "600s")
      // scratch (shuffle, spill, block files) under the working directory
      .config("spark.local.dir", new java.io.File("spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Row count and checksum of every table of a rung. */
  private def fingerprints(spark: SparkSession, dir: String): Map[String, Checksum] =
    Tables.all.map(t => t -> Checksum.of(Tables.load(spark, dir, t))).toMap

  private def gen(root: String, expectedPath: String): Int = {
    val expected = Expected.load(expectedPath)
    val spark = session()
    try {
      val bad = Rungs.keys.toSeq.sorted.flatMap { r =>
        val dir = s"$root/$r"
        Inputs.write(spark, dir, Rungs(r))
        val got = fingerprints(spark, dir)
        println(Json.obj(Seq("rung" -> Json.str(r), "tables" ->
          Json.obj(got.toSeq.sortBy(_._1).map { case (t, c) => t -> c.toJson }))))
        Tables.all.filterNot(t => expected.table(r, t).exists(_.matches(got(t))))
          .map(t => s"$r/$t")
      }
      if (bad.nonEmpty)
        System.err.println(s"input fingerprint mismatch: ${bad.mkString(" ")}")
      if (bad.isEmpty) 0 else 1
    } finally spark.stop()
  }

  // ---- process probes ----
  private lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Heap still in use after a full collection, in MB. */
  def retainedMb(): Double = {
    // the second collection also reclaims what the ContextCleaner released
    // in reaction to the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** VmHWM, the resident-set high-water mark, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Block-manager memory plus disk held by the given RDDs, in MB. */
  def storedMb(spark: SparkSession, rdds: Set[Int]): Double =
    spark.sparkContext.getRDDStorageInfo.filter(i => rdds.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Bytes the engine wrote under the working directory (checkpoints,
    * tables, stream state), in MB; Spark's scratch and temp files, which
    * its cleaner removes at its own pace, are left out. */
  def dirMb(f: java.io.File): Double = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName == "spark-local" || c.getName == "tmp")
        .map(walk).sum
      else f.length()
    walk(f) / 1048576.0
  }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
  }

  /** Unpersists every persisted RDD not in `keep` and not a protected memo
    * checkpoint, as `graft.Bench` does after each query. */
  def releaseNew(spark: SparkSession, keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep.contains(id) || MemoKeep.isProtected(id) }
      .values.foreach(r => try r.unpersist(blocking = false)
        catch { case _: Throwable => () })
}

/** Pinned values: input fingerprints per rung and op checksums per
  * workload rung, plus the ops whose output is not reproducible. */
final case class Expected(tables: Map[String, Map[String, Checksum]],
    ops: Map[String, Map[String, Checksum]],
    nondeterministic: Map[String, String]) {
  def table(rung: String, t: String): Option[Checksum] =
    tables.get(rung).flatMap(_.get(t))
  def op(rung: String, q: String): Option[Checksum] =
    ops.get(rung).flatMap(_.get(q))
}

object Expected {
  def load(path: String): Expected = {
    val m = Json.plain(Json.read(path)).asInstanceOf[Map[String, Any]]
    def sums(k: String) = m.getOrElse(k, Map.empty).asInstanceOf[
      Map[String, Map[String, Map[String, Any]]]]
      .map { case (r, ts) => r -> ts.map { case (t, c) =>
        t -> Checksum.fromJson(c) } }
    Expected(sums("tables"), sums("ops"),
      m.getOrElse("nondeterministic", Map.empty)
        .asInstanceOf[Map[String, String]])
  }
}
