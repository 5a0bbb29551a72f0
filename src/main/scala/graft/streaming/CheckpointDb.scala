package graft.streaming

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC-backed checkpoint store (G3) — thread-safe over its single shared
  * `Connection` (all statement work is `synchronized`; metadata-scale, so
  * contention is irrelevant — the `autoMirror` listener bus may drive it
  * concurrently with application threads) — the reference's `triton_checkpoint`
  * table reproduced over `java.sql`
  * (`/root/reference/triton/checkpoint.go:95-151`): same table shape
  * (client, stream, shard, seq_num VARCHAR, updated epoch-seconds; PK on
  * client/stream/shard), same select-then-update/insert upsert inside a
  * transaction, same `client.stream.shard.age` stats keys — so existing
  * tooling that reads the reference's checkpoint DB can read this one.
  *
  * Role in the engine: Spark's offset log remains the SOURCE OF TRUTH
  * (commit-after-durable is engine-enforced); this table is the queryable,
  * reference-compatible VIEW of it — `mirror` copies the newest committed
  * batch in. URL dispatch mirrors `/root/reference/triton.go:58-83`: any
  * `jdbc:` URL opens here (embedded Derby is what the sandbox can run;
  * Postgres rides the identical code path given its driver jar), anything
  * else is a Structured Streaming checkpointLocation served by
  * [[Checkpoints]].
  */
final class CheckpointDb(conn: Connection) extends AutoCloseable {

  // CREATE TABLE IF NOT EXISTS portability: Derby has no IF NOT EXISTS,
  // so an already-exists error (X0Y32) is swallowed instead
  private def init(): Unit = {
    val st = conn.createStatement()
    try st.executeUpdate(
      """CREATE TABLE triton_checkpoint (
        |  client VARCHAR(255) NOT NULL,
        |  stream VARCHAR(255) NOT NULL,
        |  shard VARCHAR(255) NOT NULL,
        |  seq_num VARCHAR(255) NOT NULL,
        |  updated BIGINT NOT NULL,
        |  PRIMARY KEY (client, stream, shard))""".stripMargin)
    catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // exists
    } finally st.close()
  }
  init()

  /** Upsert one shard's committed position
    * (`checkpoint.go:27-78`): select-then-update/insert in a transaction.
    */
  def checkpoint(client: String, stream: String, shard: String,
                 seqNum: String, nowSec: Long): Unit = synchronized {
    val auto = conn.getAutoCommit
    conn.setAutoCommit(false)
    try {
      val sel = conn.prepareStatement(
        "SELECT 1 FROM triton_checkpoint WHERE client=? AND stream=? AND shard=?")
      sel.setString(1, client); sel.setString(2, stream); sel.setString(3, shard)
      val rs = sel.executeQuery()
      val exists = rs.next()
      rs.close(); sel.close()
      val up =
        if (exists) {
          val s = conn.prepareStatement(
            "UPDATE triton_checkpoint SET seq_num=?, updated=? WHERE client=? AND stream=? AND shard=?")
          s.setString(1, seqNum); s.setLong(2, nowSec)
          s.setString(3, client); s.setString(4, stream); s.setString(5, shard)
          s
        } else {
          val s = conn.prepareStatement("INSERT INTO triton_checkpoint VALUES (?, ?, ?, ?, ?)")
          s.setString(1, client); s.setString(2, stream); s.setString(3, shard)
          s.setString(4, seqNum); s.setLong(5, nowSec)
          s
        }
      up.executeUpdate(); up.close()
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.setAutoCommit(auto)
  }

  /** Most recent committed sequence for a shard; None when never
    * checkpointed (the reference returns "" — `checkpoint.go:81-95` — which
    * callers treat as trim_horizon).
    */
  def lastSequenceNumber(client: String, stream: String, shard: String): Option[String] = synchronized {
    val s = conn.prepareStatement(
      "SELECT seq_num FROM triton_checkpoint WHERE client=? AND stream=? AND shard=?")
    s.setString(1, client); s.setString(2, stream); s.setString(3, shard)
    val rs = s.executeQuery()
    try if (rs.next()) Some(rs.getString(1)) else None
    finally { rs.close(); s.close() }
  }

  /** `client.stream.shard.age -> seconds` (`checkpoint.go:127-151`). */
  def stats(client: String, nowSec: Long): Map[String, Long] = synchronized {
    val s = conn.prepareStatement(
      "SELECT updated, stream, shard FROM triton_checkpoint WHERE client=?")
    s.setString(1, client)
    val rs = s.executeQuery()
    val out = Map.newBuilder[String, Long]
    try {
      while (rs.next())
        out += s"$client.${rs.getString(2)}.${rs.getString(3)}.age" -> (nowSec - rs.getLong(1))
      out.result()
    } finally { rs.close(); s.close() }
  }

  /** The checkpoint table as a DataFrame — collected driver-side because
    * its cardinality is (clients x streams x shards), metadata-scale by
    * construction, never data-scale.
    */
  def asDataFrame(spark: SparkSession): DataFrame = synchronized {
    import spark.implicits._
    val st = conn.createStatement()
    val rs = st.executeQuery(
      "SELECT client, stream, shard, seq_num, updated FROM triton_checkpoint")
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, String, String, Long)]()
    try {
      while (rs.next())
        rows += ((rs.getString(1), rs.getString(2), rs.getString(3), rs.getString(4), rs.getLong(5)))
    } finally { rs.close(); st.close() }
    rows.toSeq.toDF("client", "stream", "shard", "seq_num", "updated")
  }

  /** Mirror the newest committed batch of a Structured Streaming offset log
    * into the table — one upsert per shard. Run it after
    * `query.awaitTermination()` (or from a `StreamingQueryListener` on
    * progress) to keep the reference-tooling view current.
    */
  def mirror(spark: SparkSession, checkpointLocation: String,
             client: String, stream: String,
             nowSec: Long = System.currentTimeMillis() / 1000L): Int = {
    val shards = Checkpoints.offsets(spark, checkpointLocation)
      .select("shard", "sequence_number").collect()
    shards.foreach(r => checkpoint(client, stream, r.getString(0), r.getLong(1).toString, nowSec))
    shards.length
  }

  override def close(): Unit = conn.close()
}

object CheckpointDb {
  /** URL dispatch (`/root/reference/triton.go:58-83`): `jdbc:` URLs open a
    * SQL-backed store. Non-JDBC strings are Structured Streaming
    * checkpoint locations — query those via [[Checkpoints.offsets]].
    */
  def open(url: String): CheckpointDb = {
    require(url.startsWith("jdbc:"),
      s"not a JDBC URL: $url — file/HDFS/S3 checkpoint locations are read via Checkpoints.offsets")
    new CheckpointDb(DriverManager.getConnection(url))
  }

  /** Keep `triton_checkpoint` current WHILE a store pipeline runs: a
    * `StreamingQueryListener` that re-mirrors the newest committed batch
    * after every progress event (and a final catch-up on termination), so
    * reference tooling reading the table sees live positions without any
    * manual `mirror` call after the run.
    *
    * Listener events are session-wide; another query's progress just
    * triggers a redundant (idempotent, metadata-scale) refresh of this
    * checkpoint location. Mirror failures are logged and swallowed — the
    * offset log remains the source of truth, and a transiently unreachable
    * mirror DB must not kill the listener bus. Returns the listener;
    * detach with `spark.streams.removeListener`.
    *
    * Scale boundary, measured (BENCH_NOTES "Checkpoint-mirror ceiling"):
    * the mirror is one serial upsert per shard, ~0.18 ms each on
    * embedded Derby — negligible through ~10 k shards (~1.8 s/event),
    * but at ~100 k shards a per-progress-event mirror would lag a 10 s
    * trigger. Past that, mirror every Nth progress event or wrap the
    * shard loop in one transaction; the reference deployment scale is
    * tens of shards, three decades below the measured boundary.
    */
  def autoMirror(spark: SparkSession, db: CheckpointDb, checkpointLocation: String,
                 client: String, stream: String)
      : org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val listener = new StreamingQueryListener {
      private def refresh(): Unit =
        try db.mirror(spark, checkpointLocation, client, stream)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] checkpoint mirror failed: ${e.getMessage}")
        }
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = refresh()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = refresh()
    }
    spark.streams.addListener(listener)
    listener
  }
}
