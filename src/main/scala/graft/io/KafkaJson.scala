package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Kafka JSON source/sink wrappers — the Spark equivalents of the
  * reference's Flink DDL tables (SURVEY §2.1 S1-S4, flink_jobs/__main__.py
  * :51-142) and the replay service (S8, flink_jobs/replay/service.py).
  * Thin by design: all logic lives in the pure operators; these only bind
  * them to transports, so unit tests run on parquet/memory sources and the
  * wrappers stay a few declarative lines.
  */
object KafkaJson {

  /** Streaming JSON source (S1): topic → typed columns + watermark.
    * PERMISSIVE from_json yields null structs on parse errors; dropping
    * them reproduces 'json.ignore-parse-errors' (__main__.py:71). Rows
    * must carry a non-null event_time (the event-time attribute).
    */
  def source(spark: SparkSession, servers: String, topic: String,
             schema: StructType, watermarkDelay: String = "5 seconds",
             startingOffsets: String = "latest", // T10, __main__.py:68
             minPartitions: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "false")
    val withMin = minPartitions.fold(r)(n => r.option("minPartitions", n))
    withMin.load()
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .filter(col("r").isNotNull && col("r.event_time").isNotNull)
      .select(col("r.*"))
      .withWatermark("event_time", watermarkDelay) // T1, __main__.py:63
  }

  /** All columns → one JSON `value` (ISO-8601 timestamps, like the
    * reference's Kafka sinks S2-S4). */
  def toJsonValue(df: DataFrame, keyCol: Option[String] = None): DataFrame = {
    val value = to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value")
    keyCol.fold(df.select(value))(k => df.select(col(k).cast("string").as("key"), value))
  }

  /** Batch write of a micro-batch slice to a topic — used inside
    * foreachBatch so all sinks share one computed core (T7). */
  def writeBatch(df: DataFrame, servers: String, topic: String,
                 keyCol: Option[String] = None): Unit =
    toJsonValue(df, keyCol).write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .save()

  /** Standalone streaming JSON sink (S2-S4) for single-output jobs. */
  def sink(df: DataFrame, servers: String, topic: String,
           checkpointLocation: String, keyCol: Option[String] = None): StreamingQuery = {
    LocalFs.bind(df.sparkSession)
    toJsonValue(df, keyCol).writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)
      .start()
  }

  /** Replay as a bounded batch read (S8/T8): the reference's seek-by-
    * timestamp/offset + paced republish collapses into a timestamp-bounded
    * Kafka scan feeding the identical pipeline — replay is a mode, not a
    * service. Pacing (speedup_factor) is unnecessary in batch; to
    * re-publish paced output, pair with a Trigger.AvailableNow stream.
    */
  def replay(spark: SparkSession, servers: String, topic: String,
             schema: StructType, startMs: Long, endMs: Option[Long] = None): DataFrame = {
    val r = spark.read.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingTimestamp", startMs.toString)
    endMs.fold(r)(e => r.option("endingTimestamp", e.toString))
      .load()
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .filter(col("r").isNotNull && col("r.event_time").isNotNull)
      .select(col("r.*"))
  }
}

/** JDBC sink for foreachBatch fan-out (S5-S7). The reference's buffered
  * at-least-once inserts with PK dedup (sink.buffer-flush.*,
  * __main__.py:144-227) map to per-batch appends with `batchsize`; target
  * tables keep the same primary keys so replays dedup server-side.
  */
object JdbcSink {

  /** True iff `df`'s planned physical output partitioning already
    * co-locates rows by `pkCols` — i.e. it satisfies a
    * ClusteredDistribution on the PK attributes, the exact property
    * [[upsert]]'s enforcement repartition exists to establish. Reads
    * the PLANNED partitioning: under AQE the executed plan is an
    * un-run AdaptiveSparkPlanExec, so the check inspects its
    * initialPlan (EnsureRequirements already applied — an agg's final
    * stage reports HashPartitioning on its group keys) WITHOUT
    * triggering execution. AQE's later re-reads of that shuffle
    * (partition coalescing) preserve hash clustering, and skew-split
    * reads are only inserted where the operator tolerates them —
    * never above an agg's required distribution — so a true here
    * stays true at runtime. Any unknown shape returns false and the
    * caller repartitions. */
  private[io] def pkCoLocated(df: DataFrame, pkCols: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val attrs = pkCols.flatMap(c => plan.output.find(_.name == c))
    attrs.length == pkCols.length &&
      plan.outputPartitioning.satisfies(ClusteredDistribution(attrs))
  }

  def writer(url: String, table: String, user: String, password: String,
             batchSize: Int = 200): DataFrame => Unit = { df =>
    df.write.mode("append")
      .option("batchsize", batchSize)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .save()
  }

  /** PK-idempotent upsert writer — the exactly-once half of SURVEY §7
    * hard part 4 (the reference leans on at-least-once inserts + PK
    * dedup in Postgres, `02_schema.sql:149,175`; Spark's foreachBatch
    * gives at-least-once BATCH delivery, and this writer makes the
    * replay a no-op). Per partition: ONE connection, ONE transaction,
    * delete-then-insert per row in `batchSize` JDBC batches, commit at
    * partition end (a mid-partition failure rolls back, so retries
    * never see half a partition). Delete+insert is the portable ANSI
    * upsert — MERGE arrives with engine-specific source-table syntax;
    * the observable semantics (last write wins per PK, duplicate
    * replays converge) are identical.
    *
    * Contract: the micro-batch frame must carry AT MOST ONE row per PK
    * (true for every aggregation output this repo ships — a keyed agg
    * emits one row per key per batch); two same-PK rows in one JDBC
    * batch would insert twice between deletes. The contract is ENFORCED,
    * not just documented: the frame is hash-repartitioned on the PK (so
    * two same-PK rows can never run concurrent delete/insert
    * transactions from different partitions — the deadlock/duplicate
    * hazard), and each partition throws on a repeated PK before any
    * write lands (failing loudly beats dropDuplicates, which would
    * silently pick an arbitrary winner). The per-partition seen-set is
    * bounded by partition rows — fine for keyed-agg outputs, which is
    * what this writer is for. Under that contract the
    * writer is idempotent at every granularity a retry can occur:
    * row-level replays, partial-batch commits by a non-transactional
    * sink, and whole-foreachBatch re-delivery after a sink failure all
    * converge to the clean run's table — proven byte-for-byte by
    * [[graft.io]] ExactlyOnceJdbcSpec against embedded Derby (partial
    * prefix committed, then full replay; double replay; cross-batch
    * key overwrite).
    */
  def upsert(url: String, table: String, pkCols: Seq[String],
             batchSize: Int = 200,
             connProps: Map[String, String] = Map.empty): DataFrame => Unit = { df =>
    val cols: Seq[String] = df.schema.fieldNames.toIndexedSeq
    require(pkCols.nonEmpty && pkCols.forall(cols.contains),
      s"pkCols $pkCols must be a subset of ${cols.mkString(",")}")
    val del = s"DELETE FROM $table WHERE " +
      pkCols.map(c => s"$c = ?").mkString(" AND ")
    val ins = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val pkIdx = pkCols.map(cols.indexOf)
    val propSeq = connProps.toSeq
    // schema-derived java.sql type per column, so NULLs bind portably
    // (setObject(i, null) is driver-dependent; setNull(i, type) is not)
    val sqlTypes: Array[Int] = df.schema.fields.map(f => f.dataType match {
      case org.apache.spark.sql.types.LongType => java.sql.Types.BIGINT
      case org.apache.spark.sql.types.IntegerType => java.sql.Types.INTEGER
      case org.apache.spark.sql.types.DoubleType => java.sql.Types.DOUBLE
      case org.apache.spark.sql.types.FloatType => java.sql.Types.FLOAT
      case org.apache.spark.sql.types.StringType => java.sql.Types.VARCHAR
      case org.apache.spark.sql.types.TimestampType => java.sql.Types.TIMESTAMP
      case org.apache.spark.sql.types.DateType => java.sql.Types.DATE
      case org.apache.spark.sql.types.BooleanType => java.sql.Types.BOOLEAN
      case _: org.apache.spark.sql.types.DecimalType => java.sql.Types.DECIMAL
      case _ => java.sql.Types.OTHER
    })
    // r15 verdict: the PK repartition is ENFORCEMENT (same-PK rows must
    // never run concurrent delete/insert from two partitions), but for
    // the writer's documented use case — keyed-agg micro-batches — the
    // frame is already hash-partitioned by its group keys, which
    // subsume the PK, and an unconditional Exchange re-shuffles every
    // batch for nothing. Skip it exactly when the planned physical
    // output partitioning already satisfies a clustered distribution on
    // the PK columns (provable co-location); anything unknown keeps the
    // repartition — correctness first (UpsertPartitioningSpec pins both
    // branches).
    val coLocated =
      if (pkCoLocated(df, pkCols)) df
      else df.repartition(pkCols.map(org.apache.spark.sql.functions.col): _*)
    coLocated.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
        val props = new java.util.Properties()
        propSeq.foreach { case (k, v) => props.setProperty(k, v) }
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val dstmt = conn.prepareStatement(del)
          val istmt = conn.prepareStatement(ins)
          try {
            var n = 0
            rows.foreach { r =>
              val pk: Seq[Any] = pkIdx.map(r.get)
              require(seen.add(pk),
                s"duplicate PK $pk in one micro-batch violates the " +
                  "one-row-per-PK upsert contract")
              pkIdx.zipWithIndex.foreach { case (ci, pi) =>
                dstmt.setObject(pi + 1, r.get(ci)) }
              dstmt.addBatch()
              cols.indices.foreach { i =>
                val v = r.get(i)
                if (v == null) istmt.setNull(i + 1, sqlTypes(i))
                else istmt.setObject(i + 1, v)
              }
              istmt.addBatch()
              n += 1
              // deletes flush BEFORE inserts so a replayed PK's stale row
              // is gone when its insert lands in the same flush window
              if (n % batchSize == 0) { dstmt.executeBatch(); istmt.executeBatch() }
            }
            dstmt.executeBatch(); istmt.executeBatch()
            conn.commit()
          } catch { case t: Throwable => conn.rollback(); throw t }
          finally { dstmt.close(); istmt.close() }
        } finally conn.close()
      }
    }
  }
}
