package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It drives graft only through public entry
  * points (GraftSession, JdbcPollStream.runUntilDrained, SparkEntry.queries,
  * VersionedTable.read) and Spark's listener APIs, records raw timestamps
  * and counts, and writes them to `<work>/raw.json`. All statistics and all
  * correctness verdicts are computed afterwards by `perfbench/metrics.py`.
  *
  * Usage: Main <work dir>; the work dir holds `params.json` and the
  * generated inputs written by `perfbench/run.py`.
  */
object Main {

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Wall clock in epoch milliseconds with sub-millisecond digits: one
    * `currentTimeMillis` anchor advanced by `nanoTime`, so every span the
    * benchmark records is on the same clock as Spark's listener events. */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def main(args: Array[String]): Unit = {
    val t0 = nowMs()
    val work = new File(args(0)).getAbsoluteFile
    val params = mapper.readTree(new File(work, "params.json"))
    val slots = params.get("slots").asInt()
    val trace = params.get("trace").asBoolean()
    val out = mutable.LinkedHashMap.empty[String, Any]
    val spark = Session.start(work, slots)
    val tracer = new Tracer(spark, trace, new HeapWatch)
    out("session_s") = (nowMs() - t0) / 1e3
    out("host") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "slots" -> slots,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    try {
      params.get("workload").asText() match {
        case "ingest" => Ingest.run(spark, work, params, tracer, out)
        case "batch_mix" => BatchMix.run(spark, work, params, tracer, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      tracer.drain()
      out("peak_old_mb") = tracer.heap.peakOldMb
      out ++= tracer.dump()
      Files.write(Paths.get(work.getPath, "raw.json"), mapper.writeValueAsBytes(out))
      spark.stop()
    }
  }
}

object Session {
  /** A session from `GraftSession` at `slots` task slots, with the headline
    * bench's broadcast threshold; every temporary location Spark, Derby and
    * the JVM use points into the work dir. */
  def start(work: File, slots: Int): SparkSession = {
    System.setProperty("derby.stream.error.file", new File(work, "derby.log").getPath)
    val spark = graft.GraftSession.builder(s"local[$slots]", slots)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.install(spark)
  }
}

/** Largest old-generation occupancy after a full collection. `sample()`
  * forces the collection and reads the old pool's collection usage (the
  * `MemoryPoolMXBean` figure); the workloads call it at untimed points —
  * after each drain, step or pass — so the figure does not depend on when
  * the collector happened to run. */
final class HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured"))).toSeq
  @volatile private var peak = 0L
  def sample(): Unit = {
    System.gc()
    oldPools.flatMap(p => Option(p.getCollectionUsage)).foreach(u => peak = math.max(peak, u.getUsed))
  }
  def peakOldMb: Double = peak.toDouble / (1 << 20)
}
