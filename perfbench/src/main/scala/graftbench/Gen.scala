package graftbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its
  * seed, so the same seed yields byte-identical inputs on every run and
  * machine; Spark only writes the rows out.
  *
  * The star-schema tables follow the layout graft's queries read
  * (`graft.Tables.expectedColumns`) with value domains close to the
  * TPC-H-like test tables: the reports filter on dates, segments, types
  * and regions, and a domain mismatch would silently empty them. */
object Gen {
  /** Table sizes; `lineitem` averages 4 rows per order. */
  case class Scale(customers: Int, suppliers: Int, parts: Int, orders: Int, events: Int)

  private val day = 86400000L
  private def ts(ms: Long) = new Timestamp(ms)
  private val epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def cents(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[A](r: Random, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val partTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes = Vector("click", "error", "purchase", "signup", "view")

  /** Rows of the star-schema tables and the event stream, keyed by
    * table name. */
  def tables(seed: Long, s: Scale): Map[String, (StructType, Seq[Row])] = {
    val r = new Random(seed)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), cents(r, -999.99, 9999.99), pick(r, segments)))
    val supplier = (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), cents(r, -999.99, 9999.99)))
    val adj = Vector("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val noun = Vector("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val part = (0 until s.parts).map(i => Row(i.toLong, s"${pick(r, adj)} ${pick(r, noun)}",
      s"Brand#${1 + r.nextInt(25)}", pick(r, partTypes), 1 + r.nextInt(50),
      900.0 + (i % 1000) / 10.0))
    val orders = Vector.newBuilder[Row]
    val lineitem = Vector.newBuilder[Row]
    (0 until s.orders).foreach { o =>
      val orderDate = epoch1995 + r.nextInt(2404) * day
      orders += Row(o.toLong, r.nextInt(s.customers).toLong, pick(r, Vector("F", "O", "P")),
        cents(r, 1000, 500000), ts(orderDate), pick(r, priorities))
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        lineitem += Row(o.toLong, r.nextInt(s.parts).toLong, r.nextInt(s.suppliers).toLong, ln,
          qty, math.round(qty * (900 + r.nextInt(1200)) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")),
          pick(r, Vector("F", "O")), ts(orderDate + (1 + r.nextInt(121)) * day))
      }
    }
    val eventTimes = Vector.fill(s.events)(r.nextLong(30 * day * 1000L)).sorted
    val events = eventTimes.zipWithIndex.map { case (us, i) =>
      val t = ts(epoch2024 + us / 1000); t.setNanos(((us % 1000000) * 1000).toInt)
      Row(i.toLong, t, r.nextInt(150).toLong, pick(r, eventTypes),
        cents(r, 0.01, 490.0), s"""{"k": ${r.nextInt(100)}}""")
    }
    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val L = LongType; val I = IntegerType; val D = DoubleType; val S = StringType
    val T = TimestampType
    Map(
      "region" -> (schema("r_regionkey" -> I, "r_name" -> S), region),
      "nation" -> (schema("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I), nation),
      "customer" -> (schema("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
        "c_acctbal" -> D, "c_mktsegment" -> S), customer),
      "supplier" -> (schema("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I,
        "s_acctbal" -> D), supplier),
      "part" -> (schema("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
        "p_size" -> I, "p_retailprice" -> D), part),
      "orders" -> (schema("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
        "o_totalprice" -> D, "o_orderdate" -> T, "o_orderpriority" -> S), orders.result()),
      "lineitem" -> (schema("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
        "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D, "l_discount" -> D,
        "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> T),
        lineitem.result()),
      "events" -> (schema("event_id" -> L, "ts" -> T, "user_id" -> L, "event_type" -> S,
        "value" -> D, "props" -> S), events))
  }

  /** Write every table as `<dir>/<name>.parquet`, one file each. */
  def writeTables(spark: SparkSession, dir: String, seed: Long, s: Scale): Unit =
    tables(seed, s).foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
    }

  // ---- mart_refresh: exam results and their change batches ----

  /** One exam result as the mart stores it. `version` orders
    * resubmissions of the same exam; `deleted` marks a tombstone. */
  case class Exam(examId: Long, studentId: Long, asmtId: Long, schoolId: Int,
                  score: Int, version: Long, deleted: Boolean) {
    def csv: String = s"$examId,$studentId,$asmtId,$schoolId,$score,$version,$deleted"
  }

  val examSchema: StructType = StructType(Seq(
    StructField("exam_id", LongType), StructField("student_id", LongType),
    StructField("asmt_id", LongType), StructField("school_id", IntegerType),
    StructField("score", IntegerType), StructField("version", LongType),
    StructField("deleted", BooleanType)))

  val schools = 40

  private def newExam(r: Random, id: Long): Exam =
    Exam(id, r.nextInt(20000).toLong, r.nextInt(60).toLong, r.nextInt(schools),
      2000 + r.nextInt(1000), 1L, deleted = false)

  /** The exams the initial migrate publishes, ids 0 until n. */
  def initialExams(seed: Long, n: Int): Vector[Exam] = {
    val r = new Random(seed)
    Vector.tabulate(n)(i => newExam(r, i.toLong))
  }

  /** A change batch against the live mart `live` (exam id to exam).
    * Distinct keys, about `size` of them: resubmissions (newer version,
    * same key), tombstones and new exams (ids from `nextId`), plus
    * `malformed` lines that fail the schema. */
  case class Batch(lines: Vector[String], changes: Vector[Exam], malformed: Int)

  def batch(seed: Long, batchNo: Int, live: collection.Map[Long, Exam],
            liveIds: IndexedSeq[Long], nextId: Long, size: Int, malformed: Int): Batch = {
    val r = new Random(seed * 1000003L + batchNo)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    val nOld = size * 3 / 4
    while (picked.size < math.min(nOld, liveIds.size)) picked += liveIds(r.nextInt(liveIds.size))
    val old = picked.toVector.map { id =>
      val e = live(id)
      if (r.nextInt(5) == 0) e.copy(version = e.version + 1, deleted = true)
      else e.copy(score = 2000 + r.nextInt(1000), version = e.version + 1)
    }
    val fresh = Vector.tabulate(size - old.size)(i => newExam(r, nextId + i))
    val changes = r.shuffle(old ++ fresh)
    val bad = Vector.tabulate(malformed)(i => s"x$i,not-a-number,${r.nextInt()},,,,")
    val lines = changes.map(_.csv) ++ bad
    Batch(r.shuffle(lines), changes, malformed)
  }

  /** The order requests are issued in: pass `pass` visits every name
    * once, in a seeded order. */
  def passOrder(seed: Long, pass: Int, names: Seq[String]): Seq[String] =
    new Random(seed * 7919L + pass).shuffle(names)
}
