package sqlbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.sql.GraftDatabase

/** One statement the closed loop sends. SELECTs carry the Spark SQL text
  * that answers the same question (`oracleSql`) or, on the ingest
  * workload, the fingerprint the row model predicts (`expected`).
  */
final case class Stmt(id: Int, sql: String, isInsert: Boolean,
    oracleSql: String = null, insertRows: Int = 0, userBytes: Long = 0L,
    table: String = null) {
  var expected: RowHash.Fingerprint = null
}

/** A workload: how its tables reach the engine (parquet generated by
  * gen.py under `dir`, or CREATE TABLE), the statements run in each set-up
  * (warm-up) and the pool whose first statements the timed phase sends.
  */
trait Workload {
  def load(db: GraftDatabase, dir: String): Unit
  def warmup: Seq[Stmt]
  def pool: IndexedSeq[Stmt]
  /** Statements in one turn of the pool's templates. */
  def cycle: Int
  /** Rough statements per second of the engine on this workload, which
    * sizes a run's fixed work to about `--seconds`. */
  def rate: Double
  /** Statements a run sends: whole template cycles, so that every run has
    * the same mix, and never more than the pool holds. */
  def statements(seconds: Double): Int = {
    val cycles = math.max(1, math.round(seconds * rate / cycle).toInt)
    math.min(cycles * cycle, pool.size / cycle * cycle)
  }
  def tables: Seq[String]
  /** Fills `expected` for the given SELECTs from Spark SQL over the input,
    * in a session of its own (same SparkContext, separate conf and views).
    */
  def computeExpected(spark: SparkSession, dir: String, stmts: Seq[Stmt]): Unit = {
    val oracle = spark.newSession()
    // one static plan per statement is enough for an answer, and faster
    oracle.conf.set("spark.sql.adaptive.enabled", "false")
    tables.foreach(t => oracle.read.parquet(s"$dir/$t").createOrReplaceTempView(t))
    // Spark SQL plans one statement per thread; four at a time keep the cores busy
    val todo = stmts.filter(_.expected == null).par
    val threads = new java.util.concurrent.ForkJoinPool(4)
    todo.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(threads)
    try todo.foreach(s => s.expected = RowHash.ofRows(oracle.sql(s.oracleSql).collect()))
    finally threads.shutdown()
  }
}

object Workloads {
  val names = Seq("point_select", "ingest")

  def apply(name: String, seed: Long): Workload = name match {
    case "point_select" => new PointSelect(seed)
    case "ingest"       => new Ingest(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  def importAll(db: GraftDatabase, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => db.importParquet(t, s"$dir/$t"))

  def literal(s: String): String = "'" + s.replace("'", "''") + "'"
}

/** SELECT-project-join over a chain of five tables, k = 1..5 of them per
  * statement, with selective literal filters: the answers are a few dozen
  * rows, so the time goes to the front end and planning, not execution.
  */
final class PointSelect(seed: Long) extends Workload {
  import Workloads._
  val tables: Seq[String] = (1 to 5).map(i => s"t$i")
  val cycle = 5
  val rate = 1.6

  def load(db: GraftDatabase, dir: String): Unit = importAll(db, dir, tables)

  private def statement(id: Int, k: Int, rnd: Random): Stmt = {
    val ops = Seq("<", "<=", ">", ">=")
    val cols = (1 to k).flatMap(i => Seq(s"t$i.k$i", s"t$i.s$i")).mkString(", ")
    val from = rnd.shuffle((1 to k).toList).map(i => s"t$i").mkString(", ")
    val joins = (1 until k).map(i => s"t$i.f$i = t${i + 1}.k${i + 1}")
    val filters = Seq(s"t1.a1 = ${rnd.nextInt(1000)}",
      s"t$k.b$k ${ops(rnd.nextInt(ops.size))} ${20 + rnd.nextInt(60)}")
    val where = rnd.shuffle(joins ++ filters).mkString(" AND ")
    val sql = s"SELECT $cols FROM $from WHERE $where"
    Stmt(id, sql, isInsert = false, oracleSql = sql)
  }

  private val rnd = new Random(seed)
  // the 5-way statement reads every table, so it also builds their statistics
  val warmup: Seq[Stmt] = Seq(statement(-5, 5, rnd))
  val pool: IndexedSeq[Stmt] = (0 until 200).map(i => statement(i, i % 5 + 1, rnd))
}

/** CREATE TABLE, then a fixed 1:1 write:read mix: batched INSERT … VALUES
  * (with NULLs and non-ASCII strings) into a growing fact table, each
  * followed by a SELECT over it — in turn an aggregate, a join to a
  * dimension loaded by INSERT during set-up, and unpartitioned ordered
  * windows. Expected answers come from the benchmark's own row model,
  * advanced statement by statement.
  */
final class Ingest(seed: Long) extends Workload {
  import Workloads._
  val tables: Seq[String] = Seq("users", "events")
  val cycle = 6
  val rate = 2.0
  private val batch = 200
  private val nUsers = 300
  private val names = Seq("Elon", "Dr. Emmett L. „Doc“ Brown", "Marty McFly",
    "Zoë", "Łukasz", "José", "Ærøskøbing", "東京")

  // row model: users (id, name, tier) and events (id, user_id, kind, amount, note)
  private val users = mutable.ArrayBuffer.empty[(Int, String, Integer)]
  private val events = mutable.ArrayBuffer.empty[(Long, Int, Int, java.lang.Long, String)]

  def load(db: GraftDatabase, dir: String): Unit = {
    Seq("CREATE TABLE users (id INT, name VARCHAR(64), tier INT)",
      "CREATE TABLE events (id BIGINT, user_id INT, kind INT, amount BIGINT, note VARCHAR(64))")
      .foreach(s => db.query(s).left.foreach(e => sys.error(s"$s: ${e.msg}")))
  }

  private def userBytesOf(s: String): Long =
    if (s == null) 0L else s.getBytes("UTF-8").length.toLong

  private def valuesSql(rows: Seq[Seq[Any]]): String = rows.map(_.map {
    case null      => "NULL"
    case s: String => literal(s)
    case other     => other.toString
  }.mkString("(", ", ", ")")).mkString(", ")

  private val rnd = new Random(seed)
  private var nextEvent = 0L

  private def insertUsers(id: Int): Stmt = {
    val rows = (0 until nUsers / 2).map { _ =>
      val id = users.size
      val tier: Integer = if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(4))
      val r = (id, s"${names(rnd.nextInt(names.size))} $id", tier)
      users += r
      r
    }
    val bytes = rows.map(r => 4L + userBytesOf(r._2) + (if (r._3 == null) 0 else 4)).sum
    Stmt(id, "INSERT INTO users VALUES " +
      valuesSql(rows.map(r => Seq(r._1, r._2, r._3))), isInsert = true,
      insertRows = rows.size, userBytes = bytes, table = "users")
  }

  private def insertEvents(id: Int): Stmt = {
    val rows = (0 until batch).map { _ =>
      val amount: java.lang.Long =
        if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(100000).toLong)
      val note = if (rnd.nextInt(3) == 0) null else names(rnd.nextInt(names.size))
      val r = (nextEvent, rnd.nextInt(nUsers), rnd.nextInt(20), amount, note)
      nextEvent += 1
      events += r
      r
    }
    val bytes = rows.map(r => 16L + (if (r._4 == null) 0 else 8) + userBytesOf(r._5)).sum
    Stmt(id, "INSERT INTO events VALUES " +
      valuesSql(rows.map(r => Seq(r._1, r._2, r._3, r._4, r._5))), isInsert = true,
      insertRows = rows.size, userBytes = bytes, table = "events")
  }

  /** Read templates in turn: aggregate, join, window. */
  private def select(id: Int, template: Int): Stmt = template % 3 match {
    case 0 => aggregate(id)
    case 1 => join(id)
    case _ => window(id)
  }

  private def aggregate(id: Int): Stmt = {
    val lo = rnd.nextInt(20)
    val hi = lo + 1 + rnd.nextInt(6)
    val sql = "SELECT kind, count(*) AS c, count(amount) AS ca, sum(amount) AS s, " +
      s"count(note) AS cn FROM events WHERE kind >= $lo AND kind < $hi GROUP BY kind"
    val groups = events.filter(e => e._3 >= lo && e._3 < hi).groupBy(_._3)
    val st = Stmt(id, sql, isInsert = false)
    st.expected = RowHash.ofValues(groups.map { case (k, es) =>
      val amounts = es.flatMap(e => Option(e._4)).map(_.longValue)
      Seq[Any](k, es.size.toLong, amounts.size.toLong,
        if (amounts.isEmpty) null else amounts.sum, es.count(_._5 != null).toLong)
    })
    st
  }

  private def join(id: Int): Stmt = {
    val tier = rnd.nextInt(4)
    val note = names(rnd.nextInt(names.size))
    val sql = "SELECT u.name, e.id, e.amount FROM users u, events e " +
      s"WHERE e.user_id = u.id AND u.tier = $tier AND e.note = ${literal(note)}"
    val byId = users.map(u => u._1 -> u).toMap
    val st = Stmt(id, sql, isInsert = false)
    st.expected = RowHash.ofValues(events.filter(_._5 == note).flatMap { e =>
      byId.get(e._2).filter(u => u._3 != null && u._3 == tier)
        .map(u => Seq[Any](u._2, e._1, e._4))
    })
    st
  }

  /** Unpartitioned windows over the whole fact table, ordered by its
    * unique key; the outer filter keeps every M-th row.
    */
  private def window(id: Int): Stmt = {
    // narrow literal ranges: the engine picks its window machinery from
    // offsets and table size, and the choice should not depend on the seed
    val lagOff = 2000 + rnd.nextInt(100)
    val leadOff = 1000 + rnd.nextInt(100)
    val tiles = 50 + rnd.nextInt(10)
    val m = 80 + rnd.nextInt(10)
    val r = rnd.nextInt(m)
    val sql = "SELECT id, rn, rs, lg, ld, nt, fv, lv FROM (SELECT id, " +
      "row_number() OVER (ORDER BY id) AS rn, sum(amount) OVER (ORDER BY id) AS rs, " +
      s"lag(amount, $lagOff) OVER (ORDER BY id) AS lg, " +
      s"lead(kind, $leadOff) OVER (ORDER BY id) AS ld, " +
      s"ntile($tiles) OVER (ORDER BY id) AS nt, " +
      "first_value(note IGNORE NULLS) OVER (ORDER BY id) AS fv, " +
      "last_value(note IGNORE NULLS) OVER (ORDER BY id) AS lv " +
      s"FROM events) x WHERE rn % $m = $r"
    val es = events.sortBy(_._1)
    val n = es.size
    val (q, rem) = (n / tiles, n % tiles)
    val rows = mutable.ArrayBuffer.empty[Seq[Any]]
    var sum: java.lang.Long = null
    var first: String = null
    var last: String = null
    for (i <- 0 until n) {
      val e = es(i)
      if (e._4 != null) sum = java.lang.Long.valueOf((if (sum == null) 0L else sum.longValue) + e._4)
      if (e._5 != null) { if (first == null) first = e._5; last = e._5 }
      val rn = i + 1L
      if (rn % m == r) {
        val tile = if (i < rem * (q + 1)) i / (q + 1) + 1 else (i - rem * (q + 1)) / q + rem + 1
        rows += Seq[Any](e._1, rn, sum,
          if (i >= lagOff) es(i - lagOff)._4 else null,
          if (i + leadOff < n) es(i + leadOff)._3 else null,
          tile, first, last)
      }
    }
    val st = Stmt(id, sql, isInsert = false)
    st.expected = RowHash.ofValues(rows)
    st
  }

  val warmup: Seq[Stmt] = Seq(insertUsers(-1), insertUsers(-2)) ++
    (0 until 3).flatMap(t => Seq(insertEvents(-3 - 2 * t), select(-4 - 2 * t, t)))
  val pool: IndexedSeq[Stmt] =
    (0 until 400).map(i => if (i % 2 == 0) insertEvents(i) else select(i, i / 2))

  /** The row model set `expected` when the statements were generated. */
  override def computeExpected(spark: SparkSession, dir: String, stmts: Seq[Stmt]): Unit = ()
}
