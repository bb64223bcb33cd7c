package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The physical type of `events.ts` has varied across driver generations:
  * parquet TIMESTAMP(NANOS) (which Spark 4 rejects by default; read as a
  * Long of epoch-nanoseconds via `spark.sql.legacy.parquet.nanosAsLong`)
  * and parquet TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). [[load]]
  * normalizes both to the epoch-nanos Long every consumer here is written
  * against — the CDC view (graft.cdc.CdcView) derives epoch-millis from it
  * with exact integer division, matching what the DuckDB oracle computes
  * with `epoch_ms(ts)` (exact under either physical type).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Idempotent session conf for oracle parity. Safe to call per query. */
  def setup(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Memoized per (session, dir, table): re-listing the file and re-reading
    * parquet footers/schema for every query costs ~100-200ms each — the
    * resolved relation (metadata only; scans still read the files) is
    * reused across queries in a process. Keyed on the SparkSession
    * INSTANCE through a weak map: an identity-hash key could collide
    * across sessions (handing one session a frame bound to another), and
    * a strong key would pin every stopped session's relations forever —
    * the weak entry goes away with the session.
    */
  private val relCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]())

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    setup(spark)
    val perSession = relCache.synchronized {
      var m = relCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
        relCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent((sfDir, table), _ => {
      val df = spark.read.parquet(s"$sfDir/$table.parquet")
      if (table == "events") normalizeTs(df) else df
    })
  }

  /** Normalize `events.ts` to an epoch-nanos Long regardless of the file's
    * physical type (see the object doc). The NTZ→timestamp cast is exact
    * because [[setup]] pins the session time zone to UTC.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case TimestampNTZType =>
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    case TimestampType => df.withColumn("ts", unix_micros(col("ts")) * 1000L)
    case other => sys.error(s"unsupported events.ts type: $other")
  }

  /** Register every harness table as a SQL temp view — the spark.sql front
    * door (`SELECT ... FROM lineitem`) for library users.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
