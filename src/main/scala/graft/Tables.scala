package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * A table is a single parquet file under `sfDir`; Spark's built-in
  * parquet DataSource V2 gives column pruning + predicate pushdown for
  * free, mirroring how the reference delegates its scan to DataFusion
  * (reference: datafusion-pinot/src/table.rs:158-170).
  *
  * Every table but `events` is read with its declared schema, so a load
  * plans no schema-merge job (~65 ms a call); SchemaDriftSpec checks
  * each declared schema against the one Spark infers from the files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The schemas Spark infers from the testdata files, in file column
    * order; `events` is absent (see [[load]]). */
  val schemas: Map[String, StructType] = {
    def t(fields: (String, DataType)*) =
      StructType(fields.map { case (n, dt) => StructField(n, dt) })
    val (i, l, d, s, ts) =
      (IntegerType, LongType, DoubleType, StringType, TimestampNTZType)
    Map(
      "region" -> t("r_regionkey" -> i, "r_name" -> s),
      "nation" -> t("n_nationkey" -> i, "n_name" -> s, "n_regionkey" -> i),
      "customer" -> t("c_custkey" -> l, "c_name" -> s, "c_nationkey" -> i,
        "c_acctbal" -> d, "c_mktsegment" -> s),
      "supplier" -> t("s_suppkey" -> l, "s_name" -> s, "s_nationkey" -> i,
        "s_acctbal" -> d),
      "part" -> t("p_partkey" -> l, "p_name" -> s, "p_brand" -> s,
        "p_type" -> s, "p_size" -> i, "p_retailprice" -> d),
      "orders" -> t("o_orderkey" -> l, "o_custkey" -> l, "o_orderstatus" -> s,
        "o_totalprice" -> d, "o_orderdate" -> ts, "o_orderpriority" -> s),
      "lineitem" -> t("l_orderkey" -> l, "l_partkey" -> l, "l_suppkey" -> l,
        "l_linenumber" -> i, "l_quantity" -> d, "l_extendedprice" -> d,
        "l_discount" -> d, "l_tax" -> d, "l_returnflag" -> s,
        "l_linestatus" -> s, "l_shipdate" -> ts),
      "documents" -> t("doc_id" -> l, "text" -> s, "lang" -> s,
        "source" -> s, "n_chars" -> l),
      "embeddings" -> t("vec_id" -> l, "embedding" -> ArrayType(FloatType),
        "label" -> i))
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // The generator has shipped events.ts as either parquet
      // TIMESTAMP(NANOS) (which Spark 4 only reads via the nanosAsLong
      // legacy flag, as a long) or plain timestamp[us]. Branch on the
      // type Spark actually loaded rather than assuming either vintage:
      //  - LongType           → nanos: rebuild a microsecond timestamp.
      //    Integer `div` (not `/`) — ns-since-epoch exceeds double's
      //    53-bit mantissa, float division would corrupt it.
      //  - TimestampNTZType   → cast to session-local TimestampType
      //    (sessions pin UTC, so the instant is unchanged); downstream
      //    window/watermark code and the DuckDB oracle expect LTZ.
      //  - TimestampType      → already what we want.
      import org.apache.spark.sql.functions.{col, expr}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType    => raw
        case other            =>
          // Fail HERE with a named message: an unrecognized vintage
          // passed through silently would surface as a DATATYPE_MISMATCH
          // deep inside some window expression instead (the r6 outage
          // mode). SchemaDriftSpec turns this into one red test.
          throw new IllegalStateException(
            s"events.ts loaded as $other — testdata regenerated with a new " +
              "vintage; teach Tables.load to normalize it to TimestampType")
      }
    } else {
      spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
    }
  }

  /** Register every table as a temp view for SQL entry points. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
