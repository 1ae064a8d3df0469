package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** The batch operator mix: eight `SparkEntry.queries` rows over the
  * generated input tables, one caller, closed loop. The untimed warm-up
  * pass writes each row's result for the DuckDB oracle comparison; the
  * timed passes time `count()` of each row's DataFrame, as `graft.Bench`
  * does, as many whole passes as fit in `seconds` (at least one). */
object BatchMix {
  import Main.nowMs

  def run(spark: SparkSession, work: File, p: JsonNode, tracer: Tracer,
      out: mutable.Map[String, Any]): Unit = {
    val names = p.get("rows").elements().asScala.map(_.asText()).toSeq
    val inputs = new File(work, "inputs").getPath
    val seconds = p.get("seconds").asDouble()
    val qs = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(work.getPath, "oracle.json"),
      Main.mapper.writeValueAsBytes(names.map(n => n -> oracle.get(n).orNull).toMap))

    // persistent RDDs an action leaves behind; cleared before the next row
    def cacheLeft(): Int = spark.sparkContext.getPersistentRDDs.size
    def dropCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val errors = mutable.LinkedHashMap.empty[String, String]
    val w0 = nowMs()
    names.foreach { n =>
      try qs(n)(spark, inputs).write.mode("overwrite").parquet(new File(work, s"out/$n").getPath)
      catch { case e: Throwable => errors(n) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      dropCaches()
    }
    out("warmup_s") = (nowMs() - w0) / 1e3
    tracer.settle()

    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = nowMs()
    var pass = 0
    var passMs = 0.0
    // another pass only if it fits in `seconds`, judged by the last one
    while (pass == 0 || nowMs() - t0 + passMs <= seconds * 1e3) {
      val p0 = nowMs()
      names.filterNot(errors.contains).foreach { n =>
        val s = nowMs()
        val ok =
          try { qs(n)(spark, inputs).count(); true }
          catch { case e: Throwable => errors(n) = s"${e.getClass.getSimpleName}: ${e.getMessage}"; false }
        val e = nowMs()
        runs += Map("row" -> n, "pass" -> pass, "start_ms" -> s, "end_ms" -> e,
          "ok" -> ok, "cache_left" -> cacheLeft())
        dropCaches()
      }
      passMs = nowMs() - p0
      pass += 1
      tracer.settle()
    }
    out ++= Map("row_runs" -> runs.toList, "errors" -> errors.toList.map { case (k, v) => s"$k: $v" },
      "row_errors" -> errors.keys.toList)
  }
}
