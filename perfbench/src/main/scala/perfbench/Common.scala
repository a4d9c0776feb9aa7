package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Settings the launcher derives from the machine: cores from `nproc`,
  * heap from MemTotal (the tier-1 formula), and this run's private
  * work directory inside the checkout. */
final case class RunArgs(workload: String, seed: Long, seconds: Int, trace: Boolean,
                         data: String, work: String, ticks: String, out: String,
                         cores: Int, heap: String)

/** A steady phase: its samples, wall time and completed operations/s. */
final case class Loop(all: Seq[Sample], wallS: Double, opsPerS: Double)

/** One completed (or failed) operation of a steady phase. */
final case class Sample(name: String, latencyS: Double, ok: Boolean, traced: Boolean,
                        group: String)

object Common {
  /** Steady-phase floor: 100 samples leave 10 above the p90. */
  val MinSamples = 100
  /** No steady phase runs longer than this, whatever the floor. */
  val HardCapS = 60

  /** Same session shape as `graft.Bench`: local[cores], one shuffle
    * partition per core, UTC, no UI. Spark's scratch and warehouse stay
    * in the run's work directory. */
  def session(a: RunArgs, listener: Option[ExecListener]): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    listener.foreach { l =>
      s.sparkContext.addSparkListener(l)
      s.listenerManager.register(l)
    }
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  }

  /** Nearest-rank percentile; a failed sample ranks at `failedAs`, the
    * operation's time limit, since a failure misses any latency limit.
    * Returns (value, samples above it). */
  def percentile(samples: Seq[Sample], p: Double, failedAs: Double): (Double, Int) = {
    val xs = samples.map(s => if (s.ok) s.latencyS else math.max(s.latencyS, failedAs)).sorted
    if (xs.isEmpty) (0.0, 0)
    else {
      val i = math.max(0, math.ceil(p * xs.size).toInt - 1)
      (xs(i), xs.size - i - 1)
    }
  }

  /** Cancels the job group of any operation that outlives its limit;
    * the cancelled operation then fails and is counted as such. */
  final class Watchdog(spark: () => SparkSession) {
    private val deadlines = new ConcurrentHashMap[String, java.lang.Long]()
    private val thread = new Thread(() => {
      try {
        while (true) {
          Thread.sleep(200)
          val now = System.nanoTime()
          deadlines.forEach { (g, d) =>
            if (now > d) {
              deadlines.remove(g)
              val s = spark()
              if (s != null && !s.sparkContext.isStopped) s.sparkContext.cancelJobGroup(g)
            }
          }
        }
      } catch { case _: InterruptedException => () }
    }, "perfbench-watchdog")
    thread.setDaemon(true); thread.start()
    def arm(group: String, limitS: Double): Unit =
      deadlines.put(group, System.nanoTime() + (limitS * 1e9).toLong): Unit
    def disarm(group: String): Unit = deadlines.remove(group): Unit
    def stop(): Unit = thread.interrupt()
  }

  /** Run `body` under its own job group, armed against `limitS`. */
  def inGroup[T](spark: SparkSession, dog: Watchdog, group: String, limitS: Double)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
    dog.arm(group, limitS)
    try body
    finally { dog.disarm(group); spark.sparkContext.clearJobGroup() }
  }

  /** Closed loop: a cycle is every operation once, in a seeded order,
    * queued for the clients; each client takes the next queued operation
    * only when its previous one returned, and the next cycle is queued as
    * soon as the queue runs dry, so no client idles at a cycle boundary.
    * Cycles are queued until `runS` seconds have passed and at least
    * `MinSamples` operations (so a p90 has ten samples above it) were
    * queued, within a hard cap; every queued cycle runs to its end, so
    * each operation weighs the same in every run. */
  def closedLoop(clients: Int, runS: Int, seed: Long, ops: Seq[String],
                 stop: () => Boolean)
                (run: (String, Int, Int) => Sample): Loop = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val queue = new java.util.ArrayDeque[(String, Int)]()
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    val deadline = t0 + runS * 1000000000L
    val cap = t0 + math.max(runS, HardCapS) * 1000000000L
    var queued = 0
    var cycle = 0
    def next(): Option[(String, Int)] = queue.synchronized {
      val now = System.nanoTime()
      if (queue.isEmpty && (now < deadline || queued < MinSamples) && now < cap && !stop()) {
        rng.shuffle(ops).foreach(op => queue.add((op, cycle)))
        queued += ops.size; cycle += 1
      }
      Option(queue.poll())
    }
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var op = next()
        while (op.isDefined && !stop()) { samples.add(run(op.get._1, c, op.get._2)); op = next() }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = samples.asScala.toSeq
    val wallS = seconds(t0)
    Loop(all, wallS, if (wallS > 0) all.count(_.ok) / wallS else 0.0)
  }

  /** Bytes held by the session's cached data: (memory, disk). */
  def residentBytes(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  /** Storage memory the block manager can hold, in bytes. */
  def storagePool(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

  def treeBytes(f: java.io.File, keep: java.io.File => Boolean = _ => true): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes(_, keep)).sum
    else if (keep(f)) f.length() else 0L

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)
}
