package enginebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A set of ids with O(1) add, remove and uniform random pick. */
final class IdPool {
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.LongMap.empty[Int]
  def size: Int = ids.size
  def contains(id: Long): Boolean = pos.contains(id)
  def add(id: Long): Unit = if (!pos.contains(id)) { pos(id) = ids.size; ids += id }
  def remove(id: Long): Unit = pos.remove(id).foreach { i =>
    val last = ids.remove(ids.size - 1)
    if (i < ids.size) { ids(i) = last; pos(last) = i }
  }
  def pick(rnd: scala.util.Random): Long = ids(rnd.nextInt(ids.size))
}

/** One source table as the engine reads it: an immutable parquet base plus
  * an in-memory overlay of the rows changed since the base was written
  * (`None` = deleted). The generator thread writes the overlay; the engine
  * reads [[frame]], a snapshot taken when it is called — the engine re-reads
  * current source state by id, so a snapshot newer than the batch is fine. */
final class SourceTable(spark: SparkSession, idCol: String, schema: StructType,
                        basePath: String) {
  private val idIx = schema.fieldIndex(idCol)
  private val idType = schema(idCol).dataType
  @volatile private var base: DataFrame = spark.read.schema(schema).parquet(basePath)
  @volatile private var overlay: Map[Any, Option[Row]] = Map.empty
  private var built: (Map[Any, Option[Row]], DataFrame) = (null, null)

  def upsert(r: Row): Unit = overlay = overlay.updated(r.get(idIx), Some(r))
  def delete(id: Any): Unit = overlay = overlay.updated(id, None)

  /** Replace the base (a new source version written in set-up). */
  def rebase(path: String): Unit = synchronized {
    base = spark.read.schema(schema).parquet(path); overlay = Map.empty; built = (null, null)
  }

  def frame: DataFrame = synchronized {
    val ov = overlay
    if (built._1 ne ov) built = (ov, compose(ov))
    built._2
  }

  private def compose(ov: Map[Any, Option[Row]]): DataFrame =
    if (ov.isEmpty) base
    else {
      val ids = spark.createDataFrame(ov.keys.toSeq.map(Row(_)).asJava,
        StructType(Seq(StructField("__ov_id", idType, nullable = false))))
      val live = spark.createDataFrame(ov.values.flatten.toSeq.asJava, schema)
      base.join(broadcast(ids), col(idCol) === col("__ov_id"), "left_anti")
        .unionByName(live)
    }
}

/** Deterministic generators for the source tables. Prices, balances and
  * quantities are multiples of 0.25: exact in a double, so the views compare
  * with the recompute and the model bit for bit. */
object Rows {
  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false)))
  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType, nullable = false),
    StructField("c_acctbal", DoubleType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))
  val LineitemSchema: StructType = StructType(Seq(
    StructField("li_id", StringType, nullable = false),
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false)))

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Statuses = Array("F", "O", "P")

  def price(rnd: scala.util.Random): Double = (4000 + rnd.nextInt(1996000)) * 0.25
  def acctbal(rnd: scala.util.Random): Double = (rnd.nextInt(44000) - 4000) * 0.25

  def order(rnd: scala.util.Random, key: Long, cust: Long): Row =
    Row(key, cust, price(rnd), Statuses(rnd.nextInt(Statuses.length)))
  def customer(rnd: scala.util.Random, key: Long): Row =
    Row(key, f"Customer#$key%09d", acctbal(rnd), Segments(rnd.nextInt(Segments.length)))
  def lineitem(orderKey: Long, line: Int, part: Long, qty: Double): Row =
    Row(s"$orderKey-$line", orderKey, line, part, qty)

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
}

/** The generator's own model of the order/customer sources, from which the
  * expected answer of every search is computed independently of the engine.
  * Single-writer: only the generator thread mutates it, and searches read it
  * only while the generator is idle. */
final class OrdersModel {
  final case class Cust(name: String, acctbal: Double)
  final case class Ord(cust: Long, price: Double)
  val customers = mutable.LongMap.empty[Cust]
  val orders = mutable.LongMap.empty[Ord]
  val byCust = mutable.LongMap.empty[mutable.Set[Long]]
  val custPool = new IdPool
  val orderPool = new IdPool

  def putCustomer(r: Row): Unit = {
    customers(r.getLong(0)) = Cust(r.getString(1), r.getDouble(2)); custPool.add(r.getLong(0))
  }
  def dropCustomer(k: Long): Unit = { customers.remove(k); custPool.remove(k) }
  def putOrder(r: Row): Unit = {
    dropOrder(r.getLong(0))
    orders(r.getLong(0)) = Ord(r.getLong(1), r.getDouble(2)); orderPool.add(r.getLong(0))
    byCust.getOrElseUpdate(r.getLong(1), mutable.Set.empty[Long]) += r.getLong(0)
  }
  def dropOrder(k: Long): Unit = orders.remove(k).foreach { o =>
    orderPool.remove(k)
    byCust.get(o.cust).foreach { s => s -= k; if (s.isEmpty) byCust.remove(o.cust) }
  }

  /** customer_report row for a key: (name, acctbal, last_totalprice); the
    * order field comes from the order whose id is greatest as a string, the
    * JoinReduce's `orderBy = _mr_source_id` rule. */
  def report(cust: Long): Option[(Option[String], Option[Double], Option[Double])] = {
    val c = customers.get(cust)
    val last = byCust.get(cust).map(_.maxBy(_.toString)).map(orders(_).price)
    if (c.isEmpty && last.isEmpty) None
    else Some((c.map(_.name), c.map(_.acctbal), last))
  }
  def reportKeys: Iterator[Long] = (customers.keySet ++ byCust.keySet).iterator
}
