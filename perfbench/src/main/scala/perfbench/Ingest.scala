package perfbench

import java.io.{File, PrintWriter}
import java.sql.{Connection, DriverManager, SQLException}

import scala.collection.mutable
import scala.io.Source

import com.fasterxml.jackson.databind.JsonNode
import graft.sinks.VersionedTable
import graft.streaming.JdbcPollStream
import org.apache.spark.sql.SparkSession

/** The poll→commit workload, in two phases (backfill, then live). The
  * source is an in-process Derby table staged like the
  * `streaming_jdbc_ingest` row stages it, with the covering (shard, sort
  * cols) poll index; the sink is the exactly-once committed table
  * `JdbcPollStream` appends to. Committed rows are dumped after each drain
  * (untimed) for the exactly-once check in metrics.py. */
object Ingest {
  import Main.nowMs

  /** One generated source row: `due` is the offset (µs) from the timed
    * start at which the live generator inserts it; -1 = staged before the
    * warm-up, -2 = inserted just before the timed phase. */
  final case class SrcRow(id: Long, shard: String, tsu: Long, payload: String, due: Long)

  private val Table = "pb_src"
  private val Cols = Seq("event_id", "shard", "tsu", "due_us", "payload")

  def readRows(f: File): IndexedSeq[SrcRow] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().drop(1).map { l =>
      val a = l.split(',')
      SrcRow(a(0).toLong, a(1), a(2).toLong, a(3), a(4).toLong)
    }.toIndexedSeq
    finally src.close()
  }

  private def url(db: String, create: Boolean = true) =
    s"jdbc:derby:memory:$db" + (if (create) ";create=true" else "")

  def dropDb(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as 08006

  def insert(c: Connection, rows: Seq[SrcRow], dueUs: SrcRow => Long): Unit = {
    val ps = c.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?, ?, ?)")
    try {
      rows.foreach { r =>
        ps.setLong(1, r.id); ps.setString(2, r.shard); ps.setLong(3, r.tsu)
        ps.setLong(4, dueUs(r)); ps.setString(5, r.payload); ps.addBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally ps.close()
  }

  /** Create the source table, load `rows` and build the poll index. */
  def stage(db: String, rows: Seq[SrcRow]): Unit = {
    val c = DriverManager.getConnection(url(db))
    try {
      c.setAutoCommit(false)
      val q = Cols.map("\"" + _ + "\"")
      c.createStatement().execute(
        s"""CREATE TABLE $Table (${q(0)} BIGINT NOT NULL, ${q(1)} VARCHAR(32) NOT NULL,
           |${q(2)} BIGINT NOT NULL, ${q(3)} BIGINT NOT NULL, ${q(4)} VARCHAR(64) NOT NULL)""".stripMargin)
      insert(c, rows, _ => 0L)
      c.createStatement().execute(s"CREATE INDEX ${Table}_poll_idx ON $Table (${q(1)}, ${q(2)}, ${q(0)})")
      c.commit()
    } finally c.close()
  }

  /** Commit-hook times per cycle, on the benchmark clock. */
  final class Commits(round: Int, onCommit: () => Unit = () => ()) {
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var before = Double.NaN
    def beforeCommit(c: Long): Unit = before = nowMs()
    def afterCommit(c: Long): Unit = rows.synchronized {
      rows += Map("round" -> round, "cycle" -> c, "before_ms" -> before, "after_ms" -> nowMs())
      onCommit()
    }
  }

  def config(db: String, dir: File, pageSize: Long, cm: Commits): JdbcPollStream.Config =
    JdbcPollStream.Config(
      url = url(db, create = false), table = Table, shardCol = "shard",
      sortCols = Seq("tsu", "event_id"), pageSize = pageSize,
      tablePath = new File(dir, "table").getPath,
      checkpointDir = new File(dir, "ck").getPath,
      beforeCommit = cm.beforeCommit, afterCommit = cm.afterCommit)

  /** Write the committed table as CSV (event_id, shard, tsu, due_us, cycle). */
  def dumpCommitted(spark: SparkSession, tablePath: String, f: File): Unit = {
    val rows =
      if (VersionedTable.versions(spark, tablePath).isEmpty) Array.empty[org.apache.spark.sql.Row]
      else VersionedTable.read(spark, tablePath)
        .select("event_id", "shard", "tsu", "due_us", "cycle").collect()
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("event_id,shard,tsu,due_us,cycle")
      rows.foreach(r => w.println(s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)},${r.getLong(3)},${r.getLong(4)}"))
    } finally w.close()
  }

  /** Data files, metadata files and bytes under a table directory
    * (Hadoop's local `.crc` side files are counted in bytes only). */
  def tableFiles(dir: File): Map[String, Long] = {
    var data, meta, bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else {
        bytes += f.length()
        if (f.getName.endsWith(".parquet")) data += 1
        else if (!f.getName.endsWith(".crc")) meta += 1
      }
    walk(dir)
    Map("data" -> data, "meta" -> meta, "bytes" -> bytes)
  }

  private def drainOnce(spark: SparkSession, cfg: JdbcPollStream.Config,
      errors: mutable.ArrayBuffer[String]): Unit =
    try JdbcPollStream.runUntilDrained(spark, cfg)
    catch { case e: Exception => errors += s"${e.getClass.getSimpleName}: ${e.getMessage}" }

  private def time[T](f: => T): (T, Double) = { val t = nowMs(); val r = f; (r, (nowMs() - t) / 1e3) }

  /** Stage `rows` into `reps` fresh databases, timing each (set-up is
    * measured several times per run); all but the first are dropped. */
  private def stageReps(db: String, rows: Seq[SrcRow], reps: Int): Seq[Double] =
    (1 to reps).map { k =>
      val name = if (k == 1) db else s"${db}_rep$k"
      val (_, s) = time(stage(name, rows))
      if (k > 1) dropDb(name)
      s
    }

  /** The ingest workload: the closed-loop backfill phase, then the
    * open-loop live phase, in one session. */
  def run(spark: SparkSession, work: File, p: JsonNode, tracer: Tracer,
      out: mutable.Map[String, Any]): Unit = {
    out("backfill") = backfill(spark, work, p, tracer)
    out("live") = live(spark, work, p, tracer)
  }

  /** Closed loop: stage a skewed backlog, drain it with `runUntilDrained`,
    * verify offline, and repeat with a fresh source and table until the
    * drains have run `min_cycles` cycles. Round 0 is the untimed warm-up on
    * every `warm_mod`-th row. */
  def backfill(spark: SparkSession, work: File, p: JsonNode, tracer: Tracer): Map[String, Any] = {
    val all = readRows(new File(work, "backfill.csv"))
    val pageSize = p.get("page_size").asLong()
    val warmMod = p.get("warm_mod").asInt()
    val minCycles = p.get("min_cycles").asInt()
    val commits = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[String]
    val staging = mutable.ArrayBuffer.empty[Double]
    var warmS = 0.0
    var round = 0
    def timedCycles = commits.count(_("round") != 0)
    while (round == 0 || timedCycles < minCycles) {
      val db = s"pb_backfill_$round"
      val dir = new File(work, s"ingest/r$round")
      val cm = new Commits(round)
      if (round == 0) warmS += stageReps(db, all.filter(_.id % warmMod == 0), 1).sum
      else staging ++= stageReps(db, all, 1)
      val d0 = nowMs()
      drainOnce(spark, config(db, dir, pageSize, cm), errors)
      val d1 = nowMs()
      if (round == 0) warmS += (d1 - d0) / 1e3
      tracer.settle()
      dumpCommitted(spark, new File(dir, "table").getPath, new File(work, s"committed_$round.csv"))
      dropDb(db)
      commits ++= cm.rows
      rounds += Map("round" -> round, "warm" -> (round == 0), "drain_start_ms" -> d0,
        "drain_end_ms" -> d1, "filter_mod" -> (if (round == 0) warmMod else 1),
        "files" -> tableFiles(new File(dir, "table")))
      round += 1
    }
    Map("warmup_s" -> warmS, "staging_s" -> staging.toList, "commits" -> commits.toList,
      "rounds" -> rounds.toList, "errors" -> errors.toList)
  }

  /** Open loop. The rows due at -1 are staged and drained first (warm-up);
    * the rows due at -2 are then inserted, and the first commit of the
    * next `runUntilDrained` call starts one generator thread that, on one
    * JDBC connection, inserts every remaining row at its due time — so the
    * schedule starts against a running poll loop. The loop is re-entered
    * whenever `runUntilDrained` stops while the generator still has rows
    * to send. */
  def live(spark: SparkSession, work: File, p: JsonNode, tracer: Tracer): Map[String, Any] = {
    val all = readRows(new File(work, "live.csv"))
    val pageSize = p.get("page_size").asLong()
    val warm = all.filter(_.due == -1)
    val primer = all.filter(_.due == -2)
    val timed = all.filter(_.due >= 0)
    val errors = mutable.ArrayBuffer.empty[String]
    val db = "pb_live"
    val staging = stageReps(db, warm, p.get("setup_reps").asInt())
    val dir = new File(work, "ingest/live")
    val gen = new Generator(url(db, create = false), timed)
    @volatile var timedPhase = false
    val cm = new Commits(-1, () => if (timedPhase) gen.startOnce())
    val cfg = config(db, dir, pageSize, cm)
    val (_, warmS) = time(drainOnce(spark, cfg, errors))
    tracer.settle()
    val warmCommits = cm.rows.size

    locally {
      val c = DriverManager.getConnection(url(db, create = false))
      try { c.setAutoCommit(false); insert(c, primer, _ => 0L) } finally c.close()
    }
    timedPhase = true
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    var done = false
    while (!done) {
      val c0 = nowMs()
      drainOnce(spark, cfg, errors)
      val c1 = nowMs()
      val reentry = gen.started && !gen.finished
      calls += Map("start_ms" -> c0, "end_ms" -> c1, "reentry" -> reentry)
      // drained for good once the empty cycle began after the last insert:
      // it follows this call's last commit, so that commit must be later
      val lastCommit = cm.rows.lastOption.map(_("after_ms").asInstanceOf[Double])
      done = errors.nonEmpty || !gen.started ||
        (gen.finished && lastCommit.exists(_ > gen.finishedMs))
    }
    if (!gen.started) errors += "the timed poll loop never committed the primer rows"
    else gen.join()
    tracer.settle()
    dumpCommitted(spark, new File(dir, "table").getPath, new File(work, "committed_live.csv"))
    dropDb(db)
    Map("warmup_s" -> warmS, "staging_s" -> staging.toList, "t0_ms" -> gen.t0,
      "commits" -> cm.rows.toList, "warm_commits" -> warmCommits, "calls" -> calls.toList,
      "generator" -> gen.log.toList, "errors" -> errors.toList,
      "files" -> tableFiles(new File(dir, "table")))
  }

  /** The open-loop source: once started (at `t0`), rows are due at
    * `t0 + row.due`; each wake-up inserts every row already due in one
    * transaction and logs (first row index, row count, commit time).
    * `startOnce` returns after the first insert has committed. */
  final class Generator(jdbcUrl: String, rows: IndexedSeq[SrcRow]) extends Thread("perfbench-generator") {
    setDaemon(true)
    @volatile var t0: Double = Double.NaN
    @volatile var started = false
    @volatile var finished = false
    @volatile var finishedMs = Double.NaN
    val log = mutable.ArrayBuffer.empty[List[Double]]
    private val firstInsert = new java.util.concurrent.CountDownLatch(1)
    private def dueMs(i: Int) = t0 + rows(i).due / 1e3
    def startOnce(): Unit = if (!started) {
      started = true
      t0 = nowMs()
      start()
      firstInsert.await()
    }
    override def run(): Unit = {
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        c.setAutoCommit(false)
        var i = 0
        while (i < rows.size) {
          val wait = dueMs(i) - nowMs()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
          val now = nowMs()
          var j = i
          while (j < rows.size && dueMs(j) <= now) j += 1
          if (j > i) {
            insert(c, rows.slice(i, j), r => math.round(t0 * 1e3 + r.due))
            log.synchronized(log += List(i.toDouble, (j - i).toDouble, nowMs()))
            firstInsert.countDown()
            i = j
          }
        }
      } finally {
        c.close()
        finishedMs = nowMs()
        finished = true
        firstInsert.countDown()
      }
    }
  }
}
