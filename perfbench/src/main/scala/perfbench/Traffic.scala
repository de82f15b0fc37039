package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.CRC32
import scala.collection.mutable

/** One generated column: its DDL and its binlog encoding (type code plus
  * TABLE_MAP metadata, as the public replication protocol documents them). */
final case class Col(name: String, ddl: String, typeCode: Int, meta: Int)

/** One operation the wire sink must deliver, keyed by the END position of
  * the binlog event it came from (unique in the single binlog file). */
final case class ExpOp(
    logPos: Long,
    opType: String,
    gtid: Option[String] = None,
    table: Option[String] = None,
    columns: Vector[String] = Vector.empty,
    rows: Vector[(Option[Vector[Option[String]]], Option[Vector[Option[String]]])] = Vector.empty,
    statement: Option[String] = None,
    progressPos: Option[Long] = None)

/** A committed unit of the binlog: a transaction or a DDL. `events` are whole
  * binlog events (header, body, CRC32); `xidPos` is the END position of its
  * COMMIT (XID) or DDL event, the point the sink checkpoints. */
final case class Txn(events: Vector[Array[Byte]], ops: Vector[ExpOp], xidPos: Long,
    bytes: Long)

/** Seeded CDC traffic: a narrow table, a 30-column wide table (integer,
  * varchar and blob values, one MEDIUMBLOB), and an audit table the wire sink
  * filters out. Row events are insert, update (both images) and delete with
  * 1–N rows each; transactions carry GTID events; a few transactions exceed
  * 1 MiB (one as many row events, which the producer splits; one as a single
  * row event, which it fragments); a few `ALTER TABLE wide ADD COLUMN`
  * statements change the wide table mid-stream. The same seed gives the same
  * bytes. */
final class Traffic(seed: Long) {
  import Traffic._

  private val rng = new SplittableRandom(seed)
  val uuid: String = {
    val r = new SplittableRandom(seed ^ 0x5deece66dL)
    val b = Array.fill(16)(r.nextInt(256).toByte)
    val h = b.map(x => f"${x & 0xff}%02x").mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20)}"
  }
  private val sid: Array[Byte] =
    uuid.replace("-", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val narrow = Vector(
    Col("id", "BIGINT", 8, 0), Col("name", "VARCHAR(64)", 15, 256), Col("qty", "INT", 3, 0))
  private var wide: Vector[Col] =
    Vector(Col("id", "BIGINT", 8, 0)) ++
      (1 to 10).map(i => Col(f"i$i%02d", "INT", 3, 0)) ++
      (1 to 12).map(i => Col(f"s$i%02d", "VARCHAR(255)", 15, 1020)) ++
      (1 to 6).map(i => Col(f"b$i%02d", "BLOB", 252, 2)) ++
      Vector(Col("payload", "MEDIUMBLOB", 252, 3))
  private val audit = Vector(Col("id", "BIGINT", 8, 0), Col("msg", "VARCHAR(128)", 15, 512))

  /** The seed schema, one statement per line (the pipeline's `schemaSql`). */
  val seedSql: Seq[String] = Seq(
    s"CREATE DATABASE $Db",
    ddl("narrow", narrow), ddl("wide", wide), ddl("audit", audit))
  private def ddl(t: String, cols: Vector[Col]) =
    s"CREATE TABLE $Db.$t (${cols.map(c => s"${c.name} ${c.ddl}").mkString(", ")})"

  // live rows per table, so updates and deletes carry real before-images
  private final class Pool {
    val ids = mutable.ArrayBuffer.empty[Long]
    val rows = mutable.HashMap.empty[Long, Vector[Option[String]]]
    private val at = mutable.HashMap.empty[Long, Int]
    def add(id: Long, v: Vector[Option[String]]): Unit = { at(id) = ids.size; ids += id; rows(id) = v }
    def remove(id: Long): Unit = {
      val i = at.remove(id).get
      val last = ids.last
      ids(i) = last; at.get(last).foreach(_ => at(last) = i)
      ids.remove(ids.size - 1); rows.remove(id)
    }
    def pick(r: SplittableRandom): Long = ids(r.nextInt(ids.size))
  }
  private val pools = Map("narrow" -> new Pool, "wide" -> new Pool, "audit" -> new Pool)
  private var nextId = 1L
  private var gno = 0L
  private var pos = 4L // binlog position of the next event
  private var ts = 1700000000L
  private var altered = 0

  /** The file's FORMAT_DESCRIPTION event (always at position 4). */
  val fde: Array[Byte] = {
    val w = new W
    w.u16(4); val sv = "8.0.36-perfbench".getBytes(UTF_8); w.raw(sv); w.zeros(50 - sv.length)
    w.u32(0); w.u8(19); w.zeros(40); w.u8(1) // post-header lengths, checksum alg CRC32
    event(FormatDescription, w.result)
  }

  private def event(tpe: Int, body: Array[Byte], timestamp: Long = ts): Array[Byte] = {
    val size = 19 + body.length + 4
    val end = pos + size
    val w = new W
    w.u32(timestamp); w.u8(tpe); w.u32(ServerId); w.u32(size); w.u32(end); w.u16(0)
    w.raw(body)
    val crc = new CRC32(); val hb = w.result; crc.update(hb)
    pos = end
    val out = new W; out.raw(hb); out.u32(crc.getValue); out.result
  }

  private def gtidEvent(): (Array[Byte], String) = {
    gno += 1
    val w = new W
    w.u8(1); w.raw(sid); w.u64(gno); w.u8(2); w.u64(gno - 1); w.u64(gno)
    (event(Gtid, w.result), s"$uuid:$gno")
  }

  private def queryEvent(sql: String): Array[Byte] = {
    val w = new W
    w.u32(11); w.u32(0); w.u8(Db.length); w.u16(0); w.u16(0)
    w.raw(Db.getBytes(UTF_8)); w.u8(0); w.raw(sql.getBytes(UTF_8))
    event(Query, w.result)
  }

  private def tableId(t: String): Long = t match {
    case "narrow" => 101L
    case "wide" => 200L + altered // a new table id after each ALTER, like MySQL
    case _ => 103L
  }
  private def colsOf(t: String): Vector[Col] = t match {
    case "narrow" => narrow
    case "wide" => wide
    case _ => audit
  }

  private def tableMapEvent(t: String): Array[Byte] = {
    val cols = colsOf(t)
    val w = new W
    w.u48(tableId(t)); w.u16(1)
    w.u8(Db.length); w.raw(Db.getBytes(UTF_8)); w.u8(0)
    w.u8(t.length); w.raw(t.getBytes(UTF_8)); w.u8(0)
    w.lenenc(cols.size)
    cols.foreach(c => w.u8(c.typeCode))
    val meta = new W
    cols.foreach { c =>
      c.typeCode match {
        case 15 => meta.u16(c.meta)
        case 252 => meta.u8(c.meta)
        case _ => ()
      }
    }
    val mb = meta.result
    w.lenenc(mb.length); w.raw(mb)
    w.raw(Array.fill(((cols.size + 7) / 8))(0xff.toByte))
    event(TableMap, w.result)
  }

  private def writeImage(w: W, cols: Vector[Col], v: Vector[Option[String]]): Unit = {
    val nb = new Array[Byte]((cols.size + 7) / 8)
    v.zipWithIndex.foreach { case (x, i) => if (x.isEmpty) nb(i / 8) = (nb(i / 8) | (1 << (i % 8))).toByte }
    w.raw(nb)
    cols.zip(v).foreach {
      case (_, None) => ()
      case (c, Some(s)) => c.typeCode match {
        case 8 => w.u64(s.toLong)
        case 3 => w.u32(s.toInt.toLong & 0xffffffffL)
        case 15 =>
          val b = s.getBytes(UTF_8)
          if (c.meta > 255) w.u16(b.length) else w.u8(b.length)
          w.raw(b)
        case 252 =>
          val b = s.getBytes(UTF_8)
          c.meta match { case 1 => w.u8(b.length); case 2 => w.u16(b.length); case _ => w.u24(b.length) }
          w.raw(b)
      }
    }
  }

  private type Img = Option[Vector[Option[String]]]

  private def rowsEvent(t: String, kind: Int, rows: Vector[(Img, Img)]): Array[Byte] = {
    val cols = colsOf(t)
    val w = new W
    w.u48(tableId(t)); w.u16(1); w.u16(2)
    w.lenenc(cols.size)
    val present = Array.fill(((cols.size + 7) / 8))(0xff.toByte)
    w.raw(present)
    if (kind == UpdateRows) w.raw(present)
    rows.foreach { case (b, a) =>
      b.foreach(writeImage(w, cols, _))
      a.foreach(writeImage(w, cols, _))
    }
    event(kind, w.result)
  }

  private val alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 _-.,"
  private def text(n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = alphabet.charAt(rng.nextInt(alphabet.length)); i += 1 }
    new String(c)
  }

  private def value(c: Col, id: Long, bigPayload: Boolean): Option[String] =
    if (c.name == "id") Some(id.toString)
    else if (rng.nextInt(20) == 0) None
    else c.typeCode match {
      case 3 => Some((rng.nextInt(2000001) - 1000000).toString)
      case 15 => Some(text(1 + rng.nextInt(math.min(40, c.meta / 4))))
      case 252 if c.meta == 3 => Some(text(if (bigPayload) BigPayload else 16 + rng.nextInt(600)))
      case 252 => Some(text(rng.nextInt(120)))
    }

  private def newRow(t: String, bigPayload: Boolean = false): (Long, Vector[Option[String]]) = {
    val id = nextId; nextId += 1
    (id, colsOf(t).map(value(_, id, bigPayload)))
  }

  private def rowOps(t: String, maxRows: Int): (Int, Vector[(Img, Img)]) = {
    val pool = pools(t)
    val n = 1 + rng.nextInt(maxRows)
    val k = rng.nextInt(100)
    val kind = if (k < 50 || pool.ids.size < 2 * n) WriteRows else if (k < 85) UpdateRows else DeleteRows
    val picked = mutable.LinkedHashSet.empty[Long]
    if (kind != WriteRows) while (picked.size < n) picked += pool.pick(rng)
    val rows = kind match {
      case WriteRows => Vector.fill(n) {
        val (id, v) = newRow(t); pool.add(id, v); (None, Some(v))
      }
      case UpdateRows => picked.toVector.map { id =>
        val before = pool.rows(id)
        val cols = colsOf(t)
        val after = before.indices.map { i =>
          if (i > 0 && rng.nextInt(3) == 0) value(cols(i), id, bigPayload = false) else before(i)
        }.toVector
        pool.rows(id) = after
        (Some(before), Some(after))
      }
      case _ => picked.toVector.map { id =>
        val before = pool.rows(id); pool.remove(id); (Some(before), None)
      }
    }
    (kind, rows)
  }

  private def opTypeOf(kind: Int) = kind match {
    case WriteRows => "insert"
    case UpdateRows => "update"
    case _ => "delete"
  }

  /** Assemble one transaction from (table, kind, rows) row events. */
  private def trx(rowEvents: Seq[(String, Int, Vector[(Img, Img)])]): Txn = {
    ts += 1
    val ev = Vector.newBuilder[Array[Byte]]
    val ops = Vector.newBuilder[ExpOp]
    val (g, gtid) = gtidEvent()
    ev += g; ops += ExpOp(pos, "gtid", gtid = Some(gtid))
    ev += queryEvent("BEGIN"); ops += ExpOp(pos, "begin", gtid = Some(gtid))
    var mapped = Set.empty[String]
    rowEvents.foreach { case (t, kind, rows) =>
      if (!mapped(t)) { ev += tableMapEvent(t); mapped += t }
      ev += rowsEvent(t, kind, rows)
      if (t != "audit")
        ops += ExpOp(pos, opTypeOf(kind), table = Some(t),
          columns = colsOf(t).map(_.name), rows = rows)
    }
    val w = new W; w.u64(gno * 7 + 1)
    ev += event(Xid, w.result)
    ops += ExpOp(pos, "commit", progressPos = Some(pos))
    val events = ev.result()
    Txn(events, ops.result(), pos, events.iterator.map(_.length.toLong).sum)
  }

  /** An ordinary transaction: 1–4 row events over the three tables, never
    * audit-only (the sink drops an all-filtered transaction's markers). */
  def normal(): Txn = {
    val n = 1 + rng.nextInt(4)
    val tables = Vector.fill(n) {
      val k = rng.nextInt(100)
      if (k < 55) "narrow" else if (k < 90) "wide" else "audit"
    }
    val ts2 = if (tables.forall(_ == "audit")) "narrow" +: tables.tail else tables
    trx(ts2.map { t =>
      val (kind, rows) = rowOps(t, t match { case "narrow" => 6; case "wide" => 3; case _ => 2 })
      (t, kind, rows)
    })
  }

  /** > 1 MiB spread over many wide-table row events: the producer splits it. */
  def bigSplit(): Txn = {
    val events = mutable.ArrayBuffer.empty[(String, Int, Vector[(Img, Img)])]
    var bytes = 0L
    while (bytes < (3L << 19)) {
      val rows = Vector.fill(3) { val (id, v) = newRow("wide"); pools("wide").add(id, v); (None: Img, Some(v): Img) }
      bytes += rows.iterator.flatMap(_._2.get).map(_.map(_.length).getOrElse(0)).sum
      events += (("wide", WriteRows, rows))
    }
    trx(events.toSeq)
  }

  /** One row event above 1 MiB: the producer fragments it. */
  def bigFragment(): Txn = {
    val (id, v) = newRow("wide", bigPayload = true)
    pools("wide").add(id, v)
    trx(Seq(("wide", WriteRows, Vector((None, Some(v))))))
  }

  /** `ALTER TABLE wide ADD COLUMN xN VARCHAR(32)`: GTID + QUERY event. */
  def alter(): Txn = {
    ts += 1
    altered += 1
    val stmt = s"ALTER TABLE wide ADD COLUMN x$altered VARCHAR(32)"
    val (g, gtid) = gtidEvent()
    val gOp = ExpOp(pos, "gtid", gtid = Some(gtid))
    val q = queryEvent(stmt)
    val dOp = ExpOp(pos, "ddl", gtid = Some(gtid), statement = Some(stmt), progressPos = Some(pos))
    wide = wide :+ Col(s"x$altered", "VARCHAR(32)", 15, 128)
    val p = pools("wide")
    p.ids.foreach(id => p.rows(id) = p.rows(id) :+ None)
    Txn(Vector(g, q), Vector(gOp, dOp), pos, g.length.toLong + q.length)
  }

  /** `n` units: ordinary transactions, with the ALTERs and (if `oversized`)
    * the split- and fragment-sized transactions at the same fractions of
    * every plan, so seeds differ in values, not in where the expensive units
    * fall. */
  def plan(n: Int, oversized: Boolean = true): Vector[Txn] = {
    def at(fs: Double*): Set[Int] = fs.map(f => (f * n).toInt).toSet
    val alters = at(0.3, 0.55, 0.8)
    val splits = if (oversized) at(0.35, 0.75) else Set.empty[Int]
    val frags = if (oversized) at(0.45, 0.9) else Set.empty[Int]
    Vector.tabulate(n) { i =>
      if (alters(i)) alter() else if (splits(i)) bigSplit() else if (frags(i)) bigFragment() else normal()
    }
  }
}

object Traffic {
  val Db = "bench"
  val File = "mysql-bin.000001"
  val ServerId = 77L
  val BigPayload: Int = (1 << 20) + (1 << 17)

  val Query = 2
  val Rotate = 4
  val FormatDescription = 15
  val Xid = 16
  val TableMap = 19
  val WriteRows = 30
  val UpdateRows = 31
  val DeleteRows = 32
  val Gtid = 33

  /** Little-endian byte builder. */
  final class W {
    private val b = new ByteArrayOutputStream(256)
    def u8(v: Int): W = { b.write(v & 0xff); this }
    def u16(v: Int): W = { u8(v); u8(v >> 8) }
    def u24(v: Int): W = { u16(v); u8(v >> 16) }
    def u32(v: Long): W = { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
    def u48(v: Long): W = { u32(v); u16((v >> 32).toInt) }
    def u64(v: Long): W = { u32(v); u32(v >>> 32) }
    def raw(a: Array[Byte]): W = { b.write(a, 0, a.length); this }
    def zeros(n: Int): W = raw(new Array[Byte](n))
    def lenenc(v: Long): W =
      if (v < 0xfb) u8(v.toInt) else if (v < 0x10000) { u8(0xfc); u16(v.toInt) }
      else { u8(0xfd); u24(v.toInt) }
    def result: Array[Byte] = b.toByteArray
  }
}
