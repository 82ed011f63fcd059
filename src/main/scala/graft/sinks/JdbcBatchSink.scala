package graft.sinks

import java.sql.{Connection, PreparedStatement, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Batched JDBC sink (SURVEY §2 A4) — the load step of the reference
  * (parquet → ClickHouse insert), generalized to any JDBC endpoint.
  *
  * Executor-side `foreachPartition` writers: one connection per
  * partition, `addBatch`/`executeBatch` every `batchSize` rows, with
  * bounded retry on transient failures. On a 1000-executor cluster
  * each task streams its partition straight into the warehouse — the
  * driver never sees data, so load throughput scales with executors
  * (bounded by `df.rdd.getNumPartitions` concurrent connections —
  * `coalesce` first if the endpoint can't take that many writers).
  *
  * Where the connection supports transactions, each flush is one
  * transaction, rolled back before a retry: a batch that fails
  * part-way leaves no rows behind, so the retry adds no duplicates.
  * Other connections keep autocommit, and a retried flush may repeat the
  * rows applied before the failure.
  *
  * The connection factory is a serializable thunk so specs can inject
  * an in-memory stub Connection (no ClickHouse driver ships in this
  * environment); production use passes
  * `() => DriverManager.getConnection(url, props)`.
  */
object JdbcBatchSink {

  def insertSql(table: String, schema: StructType): String = {
    val cols = schema.fieldNames.mkString(", ")
    val marks = schema.fieldNames.map(_ => "?").mkString(", ")
    s"INSERT INTO $table ($cols) VALUES ($marks)"
  }

  /** JDBC type for typed setNull — untyped `setObject(i, null)` is
    * optional in the JDBC spec and rejected by several drivers.
    */
  private def sqlType(dt: org.apache.spark.sql.types.DataType): Int = dt match {
    case IntegerType   => java.sql.Types.INTEGER
    case LongType      => java.sql.Types.BIGINT
    case DoubleType    => java.sql.Types.DOUBLE
    case FloatType     => java.sql.Types.FLOAT
    case StringType    => java.sql.Types.VARCHAR
    case BooleanType   => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case _             => java.sql.Types.OTHER
  }

  private def bind(ps: PreparedStatement, schema: StructType, row: Row): Unit = {
    var i = 0
    while (i < schema.length) {
      val j = i + 1
      if (row.isNullAt(i)) {
        ps.setNull(j, sqlType(schema(i).dataType))
      } else schema(i).dataType match {
        case IntegerType   => ps.setInt(j, row.getInt(i))
        case LongType      => ps.setLong(j, row.getLong(i))
        case DoubleType    => ps.setDouble(j, row.getDouble(i))
        case FloatType     => ps.setFloat(j, row.getFloat(i))
        case StringType    => ps.setString(j, row.getString(i))
        case BooleanType   => ps.setBoolean(j, row.getBoolean(i))
        case TimestampType => ps.setTimestamp(j, row.getAs[Timestamp](i))
        case _             => ps.setObject(j, row.get(i))
      }
      i += 1
    }
  }

  def write(
      df: DataFrame,
      table: String,
      connect: () => Connection,
      batchSize: Int = 10000,
      maxRetries: Int = 3): Unit = {
    val schema = df.schema
    val sql = insertSql(table, schema)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val buf = new scala.collection.mutable.ArrayBuffer[Row](batchSize)
        // the partition's connection, opened by its first flush and
        // reopened only after a failed one
        var conn: Connection = null
        var tx = false
        def open(): Unit = {
          val c = connect()
          try {
            tx = c.getMetaData.supportsTransactions
            if (tx) c.setAutoCommit(false)
          } catch { case e: Exception => c.close(); throw e }
          conn = c
        }
        def flush(): Unit = if (buf.nonEmpty) {
          var attempt = 0
          var done = false
          while (!done) {
            // connect() is inside the retry scope: a transient
            // connection refusal must back off like a failed batch,
            // not kill the task outright.
            try {
              if (conn == null) open()
              try {
                val ps = conn.prepareStatement(sql)
                try {
                  buf.foreach { r => bind(ps, schema, r); ps.addBatch() }
                  ps.executeBatch()
                } finally ps.close()
                if (tx) conn.commit()
                done = true
              } catch {
                case e: Exception =>
                  if (tx) try conn.rollback()
                  catch { case r: java.sql.SQLException => e.addSuppressed(r) }
                  try conn.close()
                  catch { case c: java.sql.SQLException => e.addSuppressed(c) }
                  conn = null
                  throw e
              }
            } catch {
              case e: java.sql.SQLException =>
                attempt += 1
                if (attempt > maxRetries) throw e
                Thread.sleep(100L << attempt)
            }
          }
          buf.clear()
        }
        try {
          rows.foreach { r =>
            buf += r
            if (buf.length >= batchSize) flush()
          }
          flush()
        } finally if (conn != null) conn.close()
      }
    }
  }
}
