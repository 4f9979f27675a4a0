package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  *  - '''Schemas are declared.''' Every contract table is read with
  *    `spark.read.schema(<declared>).parquet(path)`, the way a catalog
  *    table is. [[schemas]] holds exactly the types Spark's parquet
  *    inference yields for the generated files (the `TIMESTAMP(MICROS,
  *    isAdjustedToUTC=false)` date columns are `TIMESTAMP_NTZ`), and
  *    `TablesSpec` asserts declared == inferred at every scale factor,
  *    because a declared column missing from a file reads as all-null
  *    instead of failing analysis. Nothing is cached across calls: each
  *    read lists its file afresh; only the schema is fixed.
  *  - '''Why.''' Without a schema, every read infers one from the parquet
  *    footers, and for a single-file table Spark does that by running a
  *    Spark job (`mergeSchemasInParallel`). That was one job per table
  *    read, paid at plan-build inside every operator call. With the
  *    schema declared, building a plan starts no job and reads no footer.
  *  - '''`events` is the exception.''' Its stored `ts` type is not fixed:
  *    the test data has TIMESTAMP(MICROS), older data TIMESTAMP(NANOS),
  *    and `ScaleStress` rewrites it as a nanos BIGINT. [[events]] must see
  *    the stored type to pick its fix-up, so `events` alone stays inferred.
  *
  * Reads stay fully declarative (a file scan + downstream select/filter),
  * so Catalyst pushes predicates and column pruning into the parquet scan:
  * at 100 TB the scan is the dominant cost and pushdown is the first-order
  * optimization.
  */
object Tables {
  /** The TESTDATA.md contract, one DDL per table, in file column order. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** Reads contract table `name` from `dir` under its declared schema;
    * `events` is read as stored (schema inferred, ts not yet fixed up).
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") spark.read.parquet(path)
    else schemas.get(name) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => throw new IllegalArgumentException(
        s"'$name' is not a contract table (${schemas.keys.toSeq.sorted.mkString(", ")}, events)")
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = read(s, d, "lineitem")

  /** events as stored: TIMESTAMP(NANOS) has no native Spark type, so it
    * is read as a nanos long; TIMESTAMP(MICROS) reads as native NTZ
    * under Spark 4's parquet inference. The schema of the result is the
    * stored vintage, for [[eventsTs]] and for streaming reads, which
    * need the schema up front.
    */
  def eventsStored(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(s, d, "events")
  }

  /** The fix-up that brings a stored `ts` of type `stored` to a
    * session-UTC TimestampType column: nanos longs truncate to micros,
    * exactly what micro-precision DuckDB does; timestamps cast. Either
    * vintage of the generated data then loads to the same column and
    * oracle comparisons line up.
    */
  def eventsTs(stored: DataType): Column = stored match {
    case LongType => expr("timestamp_micros(ts div 1000)")
    case _        => col("ts").cast("timestamp")
  }

  def events(s: SparkSession, d: String): DataFrame = {
    val raw = eventsStored(s, d)
    raw.withColumn("ts", eventsTs(raw.schema("ts").dataType))
  }
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** SQL-first front door: every table as a temp view (events with its
    * ts fix-up baked in) plus all graft functions registered —
    * after this, the entire engine is usable from `spark.sql(...)`
    * alone, which is how notebook/BI users and SQL-only migrations
    * consume it. Views are lazy logical plans: no data is read here,
    * and pushdown through a view is identical to the DataFrame path.
    */
  def registerAll(s: SparkSession, d: String): Unit = {
    schemas.keys.foreach(t => read(s, d, t).createOrReplaceTempView(t))
    events(s, d).createOrReplaceTempView("events")
    functions.Register.all(s)
  }
}
