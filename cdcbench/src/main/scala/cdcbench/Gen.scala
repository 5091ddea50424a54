package cdcbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Zipf sampler over ranks `0 until n` (exponent `s`): CDF table + binary search. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Event kinds of one file in exact shares: each share's count is its
  * fraction of the file, with the fractional part carried to the next
  * file, so every seed gets the same number of each kind per file (only
  * their order and keys differ). Kind `k` is the index of its share in
  * `shares`; the rest of the file is kind `shares.length`. */
final class KindPlan(rnd: SplittableRandom) {
  private var carry = Array.empty[Double]

  def kinds(events: Int, shares: Double*): Array[Int] = {
    if (carry.length != shares.length) carry = new Array[Double](shares.length)
    val out = Array.fill(events)(shares.length)
    var at = 0
    for (k <- shares.indices) {
      carry(k) += events * shares(k)
      val n = math.min(events - at, math.floor(carry(k) + 1e-9).toInt)
      carry(k) -= n
      for (_ <- 0 until n) { out(at) = k; at += 1 }
    }
    var i = events - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }
}

/** What the checks need of one live row: the indexed value, the MV group
  * and the MV amount (cents for orders, token count for documents). */
final case class Value(indexed: String, group: String, amount: Long)

/** One generated changelog file, as a path relative to the model's dir.
  * Names are zero-padded, so path order (the order the source admits files
  * in) is generation order. `cumEvents` counts events in this file and
  * every earlier one. */
final case class FileMeta(name: String, cumEvents: Long)

/** A group of files, written in one sub-directory and published together by
  * one directory rename, so the source sees all of its files or none.
  * `cumEvents` counts events up to the group's last file. */
final case class Group(name: String, cumEvents: Long)

/** The generator's record of a changelog: the file and group lists, the
  * live version of every tracked key and the MV over the live keys. Files
  * are written under `dir`, in the current group's sub-directory; the caller
  * publishes them. */
class Model(val dir: File) {
  dir.mkdirs()
  var seq = 0L
  val files = mutable.ArrayBuffer.empty[FileMeta]
  val groups = mutable.ArrayBuffer.empty[Group]
  private var group = "g-000000"
  /** key → (seq, value) of every live tracked key. */
  val live = mutable.LongMap.empty[(Long, Value)]
  /** MV group → (rows, amount) over the live keys. */
  val mv = mutable.HashMap.empty[String, (Long, Long)]

  private var out: BufferedWriter = _
  private var outName = ""
  private var outEvents = 0

  def isLive(key: Long): Boolean = live.contains(key)
  def current(key: Long): Option[Value] = live.get(key).map(_._2)

  /** End the current group (if it holds files) and start the next. */
  def endGroup(): Group = {
    val g = Group(group, files.lastOption.map(_.cumEvents).getOrElse(0L))
    if (groups.lastOption.forall(_.cumEvents < g.cumEvents)) groups += g
    group = f"g-${groups.length}%06d"
    g
  }

  /** Start the next file of the current group; names are zero-padded by
    * position. */
  def open(): Unit = {
    val d = new File(dir, group)
    d.mkdirs()
    outName = f"$group/cl-${files.length}%06d.json"
    outEvents = 0
    out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(dir, outName)), StandardCharsets.UTF_8), 1 << 16)
  }

  /** Append one envelope line; `tracked` events update the live keys and the MV. */
  def emit(table: String, id: Long, op: String, payloadJson: String,
           tracked: Boolean, value: Value): Unit = {
    seq += 1
    out.write(s"""{"id":$id,"seq":$seq,"op":"$op","table":"$table","payload":$payloadJson}""")
    out.write('\n')
    outEvents += 1
    if (tracked) {
      live.get(id).foreach(old => bump(old._2, -1))
      if (op == "DELETE") live.remove(id) else { live(id) = (seq, value); bump(value, 1) }
    }
  }

  private def bump(v: Value, sign: Int): Unit = {
    val (n, a) = mv.getOrElse(v.group, (0L, 0L))
    val next = (n + sign, a + sign * v.amount)
    if (next._1 == 0) mv.remove(v.group) else mv(v.group) = next
  }

  def close(): FileMeta = {
    out.close()
    val m = FileMeta(outName, files.lastOption.map(_.cumEvents).getOrElse(0L) + outEvents)
    files += m
    m
  }
}

/** Orders + customer changelog in the reference's multi-table envelope. */
final class OrdersGen(seed: Long, dir: File, val nStatuses: Int = 32) {
  val model = new Model(dir)
  private val rnd = new SplittableRandom(seed)
  val segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  def status(i: Int): String = f"S$i%02d"

  var nCustomers = 0
  var nextOrder = 1L
  /** Segment of each customer as first inserted: the static join dimension. */
  val seedSegments = mutable.LongMap.empty[String]
  private val custSeg = mutable.LongMap.empty[Int]

  private def orderJson(id: Long, cust: Long, st: Int, cents: Long, day: Int, prio: Int): String =
    s"""{"o_orderkey":$id,"o_custkey":$cust,"o_orderstatus":"${status(st)}",""" +
      s""""o_totalprice":${cents / 100}.${"%02d".format(cents % 100)},""" +
      s""""o_orderdate":"${java.time.LocalDate.ofEpochDay(day)}","o_orderpriority":"${priorities(prio)}"}"""

  private def custJson(id: Long, seg: Int): String =
    s"""{"c_custkey":$id,"c_name":"Customer#$id","c_nationkey":${id % 25},""" +
      s""""c_acctbal":${id % 9000}.${id % 100 / 10}${id % 10},"c_mktsegment":"${segments(seg)}"}"""

  private def putOrder(id: Long, op: String): Unit = {
    val cust = 1L + rnd.nextInt(math.max(1, nCustomers))
    val st = rnd.nextInt(nStatuses)
    val cents = 100L + rnd.nextInt(50000000)
    val day = 8036 + rnd.nextInt(2400) // 1992-01-01 onwards
    model.emit("orders", id, op, orderJson(id, cust, st, cents, day, rnd.nextInt(5)),
      tracked = true, Value(status(st), status(st), cents))
  }

  private def deleteOrder(id: Long): Unit = {
    val v = model.current(id).get
    // a DELETE names the old row by its key
    model.emit("orders", id, "DELETE", s"""{"o_orderkey":$id,"o_orderstatus":"${v.indexed}"}""",
      tracked = true, v)
  }

  private def putCustomer(id: Long, seg: Int, op: String): Unit = {
    custSeg(id) = seg
    model.emit("customer", id, op, custJson(id, seg), tracked = false, null)
  }

  /** Seed state: `customers` customer and `orders` order INSERTs over
    * `parts` files. */
  def seed(customers: Int, orders: Int, parts: Int): Unit = {
    nCustomers = customers
    val perFile = (customers + orders + parts - 1) / parts
    var left = 0
    var c = 0
    var o = 0
    for (p <- 0 until parts) {
      model.open()
      left = perFile
      while (left > 0 && (c < customers || o < orders)) {
        if (c < customers) {
          c += 1
          val seg = rnd.nextInt(segments.length)
          seedSegments(c.toLong) = segments(seg)
          putCustomer(c.toLong, seg, "INSERT")
        } else {
          o += 1
          putOrder(nextOrder, "INSERT")
          nextOrder += 1
        }
        left -= 1
      }
      model.close()
    }
  }

  private val plan = new KindPlan(rnd)

  /** One change file of `events` events: exact shares (see [[KindPlan]]) of
    * customer segment moves, INSERT and DELETE, the rest UPDATE; updated and
    * deleted keys are Zipf-skewed over the existing key space. */
  def changes(events: Int, pInsert: Double, pDelete: Double, pSegMove: Double,
              zipf: Zipf): FileMeta = {
    model.open()
    for (k <- plan.kinds(events, pSegMove, pInsert, pDelete)) {
      if (k == 0 && nCustomers > 0) {
        val id = 1L + rnd.nextInt(nCustomers)
        putCustomer(id, (custSeg(id) + 1 + rnd.nextInt(segments.length - 1)) % segments.length,
          "UPDATE")
      } else if (k <= 1 || nextOrder == 1L) {
        putOrder(nextOrder, "INSERT")
        nextOrder += 1
      } else {
        val id = 1L + (zipf.sample(rnd) % (nextOrder - 1))
        if (!model.isLive(id)) putOrder(id, "INSERT")
        else if (k == 2) deleteOrder(id)
        else putOrder(id, "UPDATE")
      }
    }
    model.close()
  }
}

/** Document changelog: word-soup text over a Zipf vocabulary, a `source`
  * field, an event time and a 64-dim embedding drawn around one of
  * `clusters` centres. */
final class DocsGen(seed: Long, dir: File, val dims: Int = 64, val clusters: Int = 16,
                    vocab: Int = 4000, val nSources: Int = 16) {
  val model = new Model(dir)
  private val rnd = new SplittableRandom(seed)
  private val words = new Zipf(vocab, 1.05)
  val centres: Array[Array[Double]] = Array.fill(clusters, dims)(rnd.nextDouble() * 2 - 1)
  var nextDoc = 1L
  def source(i: Int): String = f"src$i%02d"

  private def putDoc(id: Long, op: String): Unit = {
    val n = 8 + rnd.nextInt(40)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append('w').append(words.sample(rnd))
      i += 1
    }
    val src = rnd.nextInt(nSources)
    val c = centres(rnd.nextInt(clusters))
    val emb = new StringBuilder("[")
    i = 0
    while (i < dims) {
      if (i > 0) emb.append(',')
      appendFixed4(emb, c(i) + rnd.nextGaussian() * 0.25)
      i += 1
    }
    emb.append(']')
    val ts = java.time.Instant.ofEpochSecond(1700000000L + seedOffset(id))
    model.emit("documents", id, op,
      s"""{"text":"$sb","source":"${source(src)}","ts":"$ts","embedding":$emb}""",
      tracked = true, Value(source(src), "", n.toLong))
  }

  /** `x` with four decimals, without a `Formatter` (which would dominate
    * generation time). */
  private def appendFixed4(sb: StringBuilder, x: Double): Unit = {
    val u = math.round(math.abs(x) * 10000)
    if (x < 0 && u != 0) sb.append('-')
    sb.append(u / 10000).append('.')
    val f = (u % 10000).toInt
    if (f < 1000) sb.append('0')
    if (f < 100) sb.append('0')
    if (f < 10) sb.append('0')
    sb.append(f)
  }

  private def seedOffset(id: Long): Long = id * 37 + rnd.nextInt(3600)

  private def deleteDoc(id: Long): Unit = {
    val v = model.current(id).get
    model.emit("documents", id, "DELETE", s"""{"source":"${v.indexed}"}""", tracked = true, v)
  }

  private val plan = new KindPlan(rnd)

  /** One file of `events` document events in exact shares (see
    * [[KindPlan]]): INSERT new documents, DELETE Zipf-chosen ones, and
    * rewrite the text of the rest (UPDATE). */
  def changes(events: Int, pInsert: Double, pDelete: Double, zipf: Zipf): FileMeta = {
    model.open()
    for (k <- plan.kinds(events, pInsert, pDelete)) {
      if (k == 0 || nextDoc == 1L) {
        putDoc(nextDoc, "INSERT")
        nextDoc += 1
      } else {
        val id = 1L + (zipf.sample(rnd) % (nextDoc - 1))
        if (!model.isLive(id)) putDoc(id, "INSERT")
        else if (k == 1) deleteDoc(id)
        else putDoc(id, "UPDATE")
      }
    }
    model.close()
  }
}
