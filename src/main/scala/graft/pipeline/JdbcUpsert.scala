package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}

/** Idempotent JDBC upsert sink — the engine's version of the reference's
  * per-entity batched MySQL inserts (/root/reference/
  * postgresql_mysql_sync_dag.py:73-81 [inferred]) and Postgres persist
  * step (parallelized_data_pipeline_dag.py:322,345 [inferred]).
  *
  * Idempotence is the replay-safety half of the sync contract (SURVEY
  * §3.2): the watermark only advances after the write, so a crash
  * replays the batch — INSERT ... ON CONFLICT/ON DUPLICATE KEY makes the
  * replay harmless. Writes run `foreachPartition` with prepared-
  * statement batches: executor-parallel, one connection per partition,
  * `batchSize` rows per round trip, commit per batch with bounded retry
  * of transient transaction-rollback aborts (concurrent-writer
  * deadlock/serialization victims).
  *
  * The Postgres/MySQL SQL text is spec-tested; `write` itself runs
  * live in JdbcLiveSpecs against embedded Derby (real connections,
  * prepared-statement batches, per-partition commits, MERGE upserts) —
  * the one SQL engine available in this zero-egress container.
  */
object JdbcUpsert {

  sealed trait Dialect
  case object Postgres extends Dialect
  case object MySql extends Dialect
  /** ANSI-MERGE dialect (Apache Derby syntax) — the embedded engine the
    * live integration specs run `write` against, since no Postgres/MySQL
    * server exists in this container. Same write loop, real connections.
    */
  case object Derby extends Dialect

  /** Upsert statement with `?` placeholders bound in [[paramCols]] order. */
  def upsertSql(dialect: Dialect, table: String, cols: Seq[String], keys: Seq[String]): String = {
    require(keys.nonEmpty && keys.forall(cols.contains), s"keys $keys must be a subset of cols $cols")
    val collist = cols.mkString(", ")
    val qs = Seq.fill(cols.size)("?").mkString(", ")
    val updatable = cols.filterNot(keys.contains)
    dialect match {
      case Postgres if updatable.isEmpty =>
        // all columns are keys: an empty SET list is a syntax error;
        // the idempotent form is conflict-ignore
        s"INSERT INTO $table ($collist) VALUES ($qs) ON CONFLICT (${keys.mkString(", ")}) DO NOTHING"
      case Postgres =>
        val sets = updatable.map(c => s"$c = EXCLUDED.$c").mkString(", ")
        s"INSERT INTO $table ($collist) VALUES ($qs) ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET $sets"
      case MySql if updatable.isEmpty =>
        // key-only upsert: re-assign a key to itself (MySQL's portable
        // no-op form; INSERT IGNORE would also swallow real errors)
        s"INSERT INTO $table ($collist) VALUES ($qs) ON DUPLICATE KEY UPDATE ${keys.head} = ${keys.head}"
      case MySql =>
        val sets = updatable.map(c => s"$c = VALUES($c)").mkString(", ")
        s"INSERT INTO $table ($collist) VALUES ($qs) ON DUPLICATE KEY UPDATE $sets"
      case Derby =>
        // Derby's only upsert form: MERGE against the 1-row SYSDUMMY1
        // (a VALUES source is rejected: "must be a base table or table
        // function"). Parameter markers ARE allowed in the ON clause.
        val on = keys.map(k => s"$table.$k = ?").mkString(" AND ")
        val insert = s"WHEN NOT MATCHED THEN INSERT ($collist) VALUES ($qs)"
        if (updatable.isEmpty)
          s"MERGE INTO $table USING SYSIBM.SYSDUMMY1 ON $on $insert"
        else {
          val sets = updatable.map(c => s"$c = ?").mkString(", ")
          s"MERGE INTO $table USING SYSIBM.SYSDUMMY1 ON $on WHEN MATCHED THEN UPDATE SET $sets $insert"
        }
    }
  }

  /** Bind order for [[upsertSql]]'s `?` markers. INSERT-based dialects
    * bind each column once; Derby's MERGE binds keys (ON), then
    * non-keys (SET), then all columns (INSERT VALUES).
    */
  def paramCols(dialect: Dialect, cols: Seq[String], keys: Seq[String]): Seq[String] =
    dialect match {
      case Postgres | MySql => cols
      case Derby => keys ++ cols.filterNot(keys.contains) ++ cols
    }

  /** Batching seam: group rows into prepared-statement batches. Pure, so
    * the executeBatch cadence (every `batchSize` rows + final partial
    * batch) is unit-testable without a database.
    */
  def batches(rows: Iterator[Row], batchSize: Int): Iterator[Seq[Row]] = {
    require(batchSize > 0, "batchSize must be positive")
    rows.grouped(batchSize)
  }

  /** Transaction-rollback SQLState class (40xxx): deadlock victim /
    * serialization failure / lock timeout — the aborts a database
    * resolves by killing one of several CONCURRENT writers (Derby
    * 40001/40XL1, Postgres 40001/40P01, MySQL 40001). The transaction
    * rolled back cleanly, so a bounded re-execution of the same
    * idempotent batch is the correct response; any other SQLState
    * propagates and fails the task.
    *
    * Drivers wrap the real abort: `executeBatch` failures surface as
    * `BatchUpdateException` whose own SQLState is a batch-level code
    * (Derby XJ208) with the 40xxx state only on the CHAINED exception —
    * so the whole `getNextException`/`getCause` graph is walked
    * (bounded, cycle-safe), not just the top-level state.
    */
  def isTransient(e: java.sql.SQLException): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean])
    def walk(t: Throwable): Boolean =
      t != null && seen.add(t) && seen.size <= 16 && {
        (t match {
          // 40xxx: the engine aborted one of several concurrent writers.
          // SQLTimeoutException: OUR statement timeout fired (see
          // writePartition's setQueryTimeout) — an undetected lock wait
          // between concurrent MERGE writers observed live on embedded
          // Derby parks executeBatch forever; the bounded timeout turns
          // that hang into an abort, and the rolled-back idempotent
          // batch retries like any other victim.
          case _: java.sql.SQLTimeoutException => true
          case sq: java.sql.SQLException => Option(sq.getSQLState).exists(_.startsWith("40"))
          case _ => false
        }) ||
        (t match {
          case sq: java.sql.SQLException => walk(sq.getNextException)
          case _ => false
        }) ||
        walk(t.getCause)
      }
    walk(e)
  }

  /** Embedded Derby's known store-layer race under concurrent MERGE
    * writers: `OpenConglomerate.lockPositionForWrite` NPEs on
    * `this.container` and surfaces as SQLState XJ001 (the generic
    * java-exception wrapper) with the NPE chained. XJ001 is NOT
    * transient in general — it wraps arbitrary failures and the
    * production classifier must keep refusing it — but THIS signature
    * is Derby's own bug, not the statement's: the transaction rolls
    * back cleanly and the idempotent batch replays exactly like a
    * 40xxx victim. Matched tightly (an NPE raised from a Derby frame,
    * or XJ001 self-describing an NPE) and applied only for the [[Derby]]
    * dialect, i.e. the embedded test engine — Postgres/MySQL paths are
    * untouched.
    */
  private[graft] def derbyInternalRace(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean])
    def walk(t: Throwable): Boolean =
      t != null && seen.add(t) && seen.size <= 16 && {
        (t match {
          case npe: NullPointerException =>
            npe.getStackTrace.headOption.exists(_.getClassName.startsWith("org.apache.derby."))
          case sq: java.sql.SQLException =>
            Option(sq.getSQLState).contains("XJ001") &&
              Option(sq.getMessage).exists(_.contains("NullPointerException"))
          case _ => false
        }) ||
        (t match {
          case sq: java.sql.SQLException => walk(sq.getNextException)
          case _ => false
        }) ||
        walk(t.getCause)
      }
    walk(e)
  }

  /** Executor-side writer: one connection per partition, batched
    * prepared statements, commit per BATCH. Per-batch commit bounds
    * what a transient abort has to replay to one in-memory batch (a
    * per-partition transaction would roll back every prior batch of the
    * partition, which the single-pass row iterator cannot re-produce).
    * Partial-partition visibility after a crash is harmless by the same
    * contract that makes crash-replay safe: upserts are idempotent and
    * the sync watermark advances only after the whole write succeeds.
    */
  def write(
      df: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      dialect: Dialect,
      batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties,
      maxRetries: Int = 3,
      queryTimeoutSec: Int = 300,
  ): Unit = {
    val cols = df.columns.toSeq
    val sql = upsertSql(dialect, table, cols, keys)
    // statement-parameter position -> row ordinal, resolved once on the
    // driver (Derby's MERGE binds some columns more than once)
    val bindOrdinals = paramCols(dialect, cols, keys).map(cols.indexOf).toArray
    val isDerby = dialect == Derby
    df.foreachPartition { (rows: Iterator[Row]) =>
      writePartition(() => java.sql.DriverManager.getConnection(url, props),
        sql, bindOrdinals, rows, batchSize, maxRetries, queryTimeoutSec,
        extraTransient = if (isDerby) derbyInternalRace _ else (_: Throwable) => false)
    }
  }

  /** Connection-severity failure (08xxx SQLState anywhere in the chain,
    * or the driver's non-transient/recoverable connection exception
    * classes): the CONNECTION is gone, so a same-connection retry can
    * never succeed — but a RECONNECT retry can, and for this writer it
    * is always safe: commits are per batch and the upsert is
    * idempotent, so whether the in-flight batch's commit landed before
    * the connection died or not, replaying it on a fresh connection
    * converges to the same rows. This is the standard posture for an
    * idempotent batched sink against a real network database (failover,
    * proxy restart, idle-kill) — and it is also what de-flakes the
    * embedded-Derby suite, where one writer hitting Derby's internal
    * race can escalate to a database-severity error that closes every
    * SIBLING task's connection ("No current connection", 08003).
    */
  private[graft] def isConnectionDeath(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean])
    def walk(t: Throwable): Boolean =
      t != null && seen.add(t) && seen.size <= 16 && {
        (t match {
          case _: java.sql.SQLNonTransientConnectionException => true
          case _: java.sql.SQLTransientConnectionException => true
          case _: java.sql.SQLRecoverableException => true
          case sq: java.sql.SQLException => Option(sq.getSQLState).exists(_.startsWith("08"))
          case _ => false
        }) ||
        (t match {
          case sq: java.sql.SQLException => walk(sq.getNextException)
          case _ => false
        }) ||
        walk(t.getCause)
      }
    walk(e)
  }

  /** One partition's write loop, OWNING its connection lifecycle via
    * `connect` (the specs drive it with fault-injecting proxy
    * factories). Per-batch commit; transient aborts retry on the same
    * connection; connection-severity failures ([[isConnectionDeath]])
    * retry by RECONNECTING and replaying the current in-memory batch —
    * safe because committed batches are durable and the upsert is
    * idempotent (an in-doubt commit at death simply replays to the
    * same rows). `backoff` sleeps before each retry (a seam for specs).
    */
  private[graft] def writePartition(
      connect: () => java.sql.Connection,
      sql: String,
      bindOrdinals: Array[Int],
      rows: Iterator[Row],
      batchSize: Int,
      maxRetries: Int,
      queryTimeoutSec: Int = 300,
      extraTransient: Throwable => Boolean = (_: Throwable) => false,
      backoff: Long => Unit = Thread.sleep(_),
  ): Unit = {
    var conn: java.sql.Connection = null
    var st: java.sql.PreparedStatement = null
    def open(): Unit = {
      conn = connect()
      conn.setAutoCommit(false)
      st = conn.prepareStatement(sql)
      // Bounded statement time: a lock wait the engine never times out
      // (observed live: two concurrent Derby MERGE writers parking
      // executeBatch indefinitely in a latch-level wait the 40xxx
      // deadlock detector does not see) must become an abort-and-retry,
      // never a hung executor task. The timeout abort rolls back
      // cleanly, so the idempotent batch replays under the
      // transient-retry path.
      try st.setQueryTimeout(queryTimeoutSec)
      catch { case _: java.sql.SQLException => () } // driver may not support it
    }
    // a task killed mid-batch (speculation, executor shutdown, an
    // interrupt between executeBatch and commit) leaves an OPEN
    // transaction; strict drivers (Derby) then refuse close() — which
    // would MASK the real failure. Roll back best-effort first; the
    // per-batch-commit contract makes the replay safe.
    def closeQuietly(): Unit = {
      try if (st != null) st.close() catch { case _: Exception => () }
      try if (conn != null && !conn.getAutoCommit) conn.rollback() catch { case _: Exception => () }
      try if (conn != null) conn.close() catch { case _: Exception => () }
    }
    open()
    try {
      batches(rows, batchSize).foreach { batch =>
        var attempt = 0
        var done = false
        while (!done) {
          try {
            batch.foreach { r =>
              bindOrdinals.indices.foreach(i => st.setObject(i + 1, r.get(bindOrdinals(i))))
              st.addBatch()
            }
            st.executeBatch()
            conn.commit()
            done = true
          } catch {
            // NonFatal + extraTransient (not just SQLException): the
            // Derby store-layer race can escape as a raw NPE before the
            // XJ001 wrapper is applied, depending on which latch path
            // hit it — the dialect classifier sees both shapes.
            case e: Throwable if scala.util.control.NonFatal(e) && attempt < maxRetries &&
                ((e match {
                  case sq: java.sql.SQLException => isTransient(sq)
                  case _ => false
                }) || extraTransient(e) || isConnectionDeath(e)) =>
              attempt += 1
              val dead = isConnectionDeath(e) ||
                (try conn.isClosed catch { case _: Exception => true })
              if (dead) {
                closeQuietly()
                // the reconnect itself can fail while the database is
                // briefly unavailable (failover/restart — the exact
                // scenario this path targets); spend the remaining retry
                // budget on it instead of letting the reconnect error
                // escape with the original failure discarded. One backoff
                // per reconnect attempt, none after it.
                var opened = false
                while (!opened) {
                  backoff(50L * attempt)
                  try { open(); opened = true }
                  catch {
                    // a fatal open() error (an interrupted task) is not
                    // retried, but still carries the batch failure
                    case oe: Throwable =>
                      if (!scala.util.control.NonFatal(oe) || attempt >= maxRetries) {
                        oe.addSuppressed(e); throw oe
                      }
                      closeQuietly() // half-open connection from a failed open()
                      attempt += 1
                  }
                }
              }
              else {
                try conn.rollback() catch { case _: java.sql.SQLException => () }
                st.clearBatch()
                backoff(50L * attempt) // linear backoff: victims re-collide less
              }
          }
        }
      }
    } finally closeQuietly()
  }
}
