package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.UUID

import scala.util.Random

/** Deterministic analog of the reference's `writer` program
  * (writer/main.go:52-71) producing wal2json-v2-shaped JSON change lines
  * instead of SQL INSERTs, extended with updates and deletes so the full
  * I/U/D surface is exercised (replicator/main.go:195-269).
  *
  * Pure JVM-side: this is the test/soak harness, not the engine. The
  * engine consumes the emitted change-log files through
  * [[ChangeSource]]/[[Replicate]]; in production the same lines arrive via
  * a Kafka/Debezium topic.
  */
object ChangeGen {
  /** A generated operation, kept in typed form so tests can replay it
    * naively and compare against the engine (SURVEY.md §5). */
  final case class Op(lsn: Long, action: String, id: Int,
      name: String, uid: String, score: Int, createdAt: LocalDateTime)

  private val names = Seq("Alice", "Bob", "Charlie", "Diana", "Eve",
    "Frank", "Grace", "Henry", "Iris", "Jack") // writer/main.go:49
  private val fmt = DateTimeFormatter.ofPattern(Wal2JsonSchema.tsFormat)
  private val base = LocalDateTime.of(2026, 1, 1, 0, 0, 0)

  /** Generate `n` ops: ~60% insert / ~25% update / ~15% delete, updates
    * and deletes always target a currently-live key. Deterministic in
    * `seed`. */
  def ops(seed: Long, n: Int): Seq[Op] = {
    val r = new Random(seed)
    var nextId = 1
    val live = scala.collection.mutable.ArrayBuffer[Int]()
    val created = scala.collection.mutable.Map[Int, LocalDateTime]()
    (1 to n).map { lsn =>
      val ts = base.plusSeconds(lsn.toLong)
      val roll = r.nextDouble()
      if (live.isEmpty || roll < 0.60) {
        val id = nextId; nextId += 1
        live += id
        val cAt = ts
        created(id) = cAt
        Op(lsn.toLong, "I", id,
          names(r.nextInt(names.size)) + "_" + id, // writer/main.go:59
          new UUID(r.nextLong(), r.nextLong()).toString,
          r.nextInt(100) + 1, // writer/main.go:61
          cAt)
      } else if (roll < 0.85) {
        val id = live(r.nextInt(live.size))
        Op(lsn.toLong, "U", id,
          names(r.nextInt(names.size)) + "_" + id + "u",
          new UUID(r.nextLong(), r.nextLong()).toString,
          r.nextInt(100) + 1,
          created(id)) // U events carry the unchanged created_at new image
      } else {
        // O(1) swap-remove: ArrayBuffer.remove(idx) shifts the tail —
        // O(live) per delete made generation QUADRATIC in n (at the
        // 1000×-probe's n=18M, ~2.7M deletes over a ~2M-key live set is
        // terabytes of memmove — 20+ min of driver CPU before a single
        // row streams). Selection stays uniform; only the buffer's
        // internal order (and hence the per-seed sequence) differs,
        // which every consumer co-derives at runtime (naive replay,
        // builder-authored oracles), so nothing downstream pins it.
        val idx = r.nextInt(live.size)
        val id = live(idx)
        live(idx) = live(live.size - 1)
        live.remove(live.size - 1)
        Op(lsn.toLong, "D", id, "", "", 0, created(id))
      }
    }
  }

  /** [[ops]] with a HOT-KEY skewed schedule: the
    * first `hotKeys` ops insert the hot keys; afterwards each op
    * targets a hot key with probability `hotFrac` (always an UPDATE —
    * hot keys stay live so the skew persists for the whole run), else
    * follows the normal cold-key lifecycle. With the defaults, ≥50%
    * of all changes hit ≤10 keys — `pmod(id, buckets)` maps each hot
    * key to ONE bucket, so this is the worst placement the fold's
    * shuffle can see. Deterministic in `seed`; [[replay]] remains the
    * exact oracle. */
  def skewedOps(seed: Long, n: Int, hotKeys: Int = 10,
      hotFrac: Double = 0.5): Seq[Op] = {
    require(n > hotKeys, s"need more than $hotKeys ops")
    val r = new Random(seed)
    var nextId = hotKeys + 1
    val live = scala.collection.mutable.ArrayBuffer[Int]()
    val created = scala.collection.mutable.Map[Int, LocalDateTime]()
    (1 to n).map { lsn =>
      val ts = base.plusSeconds(lsn.toLong)
      if (lsn <= hotKeys) {
        created(lsn) = ts
        Op(lsn.toLong, "I", lsn, names(r.nextInt(names.size)) + "_" + lsn,
          new UUID(r.nextLong(), r.nextLong()).toString,
          r.nextInt(100) + 1, ts)
      } else if (r.nextDouble() < hotFrac) {
        val id = r.nextInt(hotKeys) + 1
        Op(lsn.toLong, "U", id,
          names(r.nextInt(names.size)) + "_" + id + "u",
          new UUID(r.nextLong(), r.nextLong()).toString,
          r.nextInt(100) + 1, created(id))
      } else {
        val roll = r.nextDouble()
        if (live.isEmpty || roll < 0.60) {
          val id = nextId; nextId += 1
          live += id
          created(id) = ts
          Op(lsn.toLong, "I", id, names(r.nextInt(names.size)) + "_" + id,
            new UUID(r.nextLong(), r.nextLong()).toString,
            r.nextInt(100) + 1, ts)
        } else if (roll < 0.85) {
          val id = live(r.nextInt(live.size))
          Op(lsn.toLong, "U", id,
            names(r.nextInt(names.size)) + "_" + id + "u",
            new UUID(r.nextLong(), r.nextLong()).toString,
            r.nextInt(100) + 1, created(id))
        } else {
          val idx = r.nextInt(live.size)
          val id = live(idx)
          live(idx) = live(live.size - 1)
          live.remove(live.size - 1)
          Op(lsn.toLong, "D", id, "", "", 0, created(id))
        }
      }
    }
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def colJson(name: String, typ: String, value: String,
      quote: Boolean): String = {
    val v = if (quote) jstr(value) else value
    s"""{"name":${jstr(name)},"type":${jstr(typ)},"value":$v}"""
  }

  /** Render one op as a wal2json format-version-2 line
    * (replicator/main.go:183-188 shape). */
  def toJsonLine(op: Op): String = {
    val ts = jstr(op.createdAt.format(fmt) + "+00")
    val head = s""""lsn":${op.lsn},"action":${jstr(op.action)},"timestamp":$ts,"schema":"public","table":"person""""
    op.action match {
      case "D" =>
        val ident = colJson("id", "integer", op.id.toString, quote = false)
        s"""{$head,"identity":[$ident]}"""
      case a =>
        val cols = Seq(
          colJson("id", "integer", op.id.toString, quote = false),
          colJson("name", "character varying(100)", op.name, quote = true),
          colJson("uid", "uuid", op.uid, quote = true),
          colJson("score", "integer", op.score.toString, quote = false),
          colJson("created_at", "timestamp without time zone",
            op.createdAt.format(fmt), quote = true)).mkString(",")
        val ident = if (a == "U")
          s""","identity":[${colJson("id", "integer", op.id.toString, quote = false)}]"""
        else ""
        s"""{$head,"columns":[$cols]$ident}"""
    }
  }

  /** Noise the parser must survive: events for another table (dropped,
    * replicator/main.go:191-193) and malformed JSON (skipped,
    * replicator/main.go:186-188). */
  def auditLine(lsn: Long): String =
    s"""{"lsn":$lsn,"action":"I","timestamp":"2026-01-01 00:00:00.000000+00","schema":"public","table":"audit","columns":[{"name":"id","type":"integer","value":$lsn}]}"""
  val malformedLine: String = """{"action":"I","table":"person" THIS IS NOT JSON"""

  /** Valid envelope with an action code outside I/U/D (quarantine:
    * bad_action). */
  def badActionLine(lsn: Long): String =
    s"""{"lsn":$lsn,"action":"X","timestamp":"2026-01-01 00:00:00.000000+00","schema":"public","table":"person","columns":[{"name":"id","type":"integer","value":$lsn}]}"""

  /** Valid person-table envelope with no id in either image (quarantine:
    * missing_id). */
  def missingIdLine(lsn: Long): String =
    s"""{"lsn":$lsn,"action":"I","timestamp":"2026-01-01 00:00:00.000000+00","schema":"public","table":"person","columns":[{"name":"name","type":"character varying(100)","value":"ghost"}]}"""

  /** Stamp batch files with strictly increasing mtimes: Spark's file
    * source orders pending files by modification time and breaks ties
    * NONDETERMINISTICALLY, so same-millisecond writes can deliver
    * epochs out of lsn order. The summary-fold replicas absorb that by
    * algebra (their header's whole point), but "one file = one slot
    * poll" means temporal order IS the contract the log models — and
    * order-requiring sinks (the JDBC apply, exactly like the
    * reference's slot consumer) depend on it. */
  private def stampOrder(dir: String, i: Int, file: java.nio.file.Path)
      : Unit =
    Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(
        (System.currentTimeMillis() / 60000L) * 60000L + i * 1000L))

  /** Split ops into micro-batch files under `dir` (one file = one slot
    * poll, replicator/main.go:154-166), interleaving noise lines. */
  def writeBatches(dir: String, ops: Seq[Op], batches: Int,
      withNoise: Boolean = true, startIndex: Int = 0): Unit =
    writeChunks(dir, ops, batches, startIndex) { (group, i) =>
      group.map(toJsonLine) ++
        (if (withNoise) Seq(auditLine(900000L + i), malformedLine) else Nil)
    }

  /** Split PRE-RENDERED envelope lines (any format — used for the
    * Debezium fixtures) into ordered micro-batch files through the same
    * chunk/name/stamp core as [[writeBatches]]. */
  def writeLineBatches(dir: String, lines: Seq[String], batches: Int,
      startIndex: Int = 0): Unit =
    writeChunks(dir, lines, batches, startIndex)((group, _) => group)

  /** [[writeChunks]]' split rule, exposed because prefix-dump oracles
    * (cdc_time_travel, cdc_changes_since, the stateful-replica waves)
    * must slice ops on EXACTLY the epoch boundaries the log files get —
    * deriving it independently at a call site is the silent-desync bug
    * this helper exists to prevent. */
  def chunkSize(n: Int, batches: Int): Int =
    math.max(1, math.ceil(n.toDouble / batches).toInt)

  /** The one place the file layout lives: ceil-split into `batches`
    * chunks, `batch_%05d.json` names offset by `startIndex` (later
    * waves land as NEW files — the file source tracks processed files
    * by name), strictly increasing mtimes via [[stampOrder]]. */
  private def writeChunks[A](dir: String, items: Seq[A], batches: Int,
      startIndex: Int)(render: (Seq[A], Int) => Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val per = chunkSize(items.size, batches)
    items.grouped(per).zipWithIndex.foreach { case (group, i0) =>
      val i = i0 + startIndex
      val f = Paths.get(dir, f"batch_$i%05d.json")
      Files.write(f, render(group, i).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      stampOrder(dir, i, f)
    }
  }

  /** Typed view of ops as [[PersonChange]] rows (deletes carry only the
    * PK image, like the parsed wal2json envelope). Used to persist the
    * deterministic change log as a parquet fixture the DuckDB oracle can
    * read — the driver-checkable ground truth for the CDC queries. */
  def toChanges(ops: Seq[Op]): Seq[PersonChange] = ops.map { op =>
    if (op.action == "D")
      PersonChange(op.lsn, op.action, op.id, None, None, None, None)
    else
      PersonChange(op.lsn, op.action, op.id, Some(op.name), Some(op.uid),
        Some(op.score), Some(java.sql.Timestamp.valueOf(op.createdAt)))
  }

  /** Two-table interleaved change log (multi-table replication fixture):
    * person ops on even global lsns, `account` ops on odd — each table's
    * per-table order is preserved, so [[replay]] on either leg is still
    * the exact oracle for that table. Deterministic in `seed`. */
  def mtOps(seed: Long, nPerson: Int, nAccount: Int): (Seq[Op], Seq[Op]) = (
    ops(seed, nPerson).map(o => o.copy(lsn = o.lsn * 2)),
    ops(seed + 7919, nAccount).map(o => o.copy(lsn = o.lsn * 2 + 1)))

  /** Render an op as an `account`-table wal2json line: columns
    * id/owner/balance/created_at (owner ← name, balance ← score).
    * `tier` adds a fifth column — the post-evolution envelope a source
    * database emits after `ALTER TABLE account ADD tier` (the
    * schema-evolution fixtures; default None = the original shape). */
  def toAccountJsonLine(op: Op, tier: Option[String] = None): String = {
    val ts = jstr(op.createdAt.format(fmt) + "+00")
    val head = s""""lsn":${op.lsn},"action":${jstr(op.action)},"timestamp":$ts,"schema":"public","table":"account""""
    op.action match {
      case "D" =>
        val ident = colJson("id", "integer", op.id.toString, quote = false)
        s"""{$head,"identity":[$ident]}"""
      case a =>
        val cols = (Seq(
          colJson("id", "integer", op.id.toString, quote = false),
          colJson("owner", "character varying(100)", op.name, quote = true),
          colJson("balance", "integer", op.score.toString, quote = false),
          colJson("created_at", "timestamp without time zone",
            op.createdAt.format(fmt), quote = true)) ++
          tier.map(t =>
            colJson("tier", "character varying(20)", t, quote = true))
          ).mkString(",")
        val ident = if (a == "U")
          s""","identity":[${colJson("id", "integer", op.id.toString, quote = false)}]"""
        else ""
        s"""{$head,"columns":[$cols]$ident}"""
    }
  }

  /** Merge both tables' ops into one lsn-ordered change log split across
    * micro-batch files — the single-slot / single-topic shape a real
    * publication has (noise lines included as in [[writeBatches]]). */
  def writeMtBatches(dir: String, person: Seq[Op], account: Seq[Op],
      batches: Int, startIndex: Int = 0): Unit = {
    val merged: Seq[String] =
      (person.map(o => o.lsn -> toJsonLine(o)) ++
        account.map(o => o.lsn -> toAccountJsonLine(o)))
        .sortBy(_._1).map(_._2)
    writeChunks(dir, merged, batches, startIndex) { (group, i) =>
      group ++ Seq(auditLine(900000L + i), malformedLine)
    }
  }

  /** Naive in-memory replay — the test oracle (SURVEY.md §5): final state
    * after applying ops in lsn order with reference upsert semantics. */
  def replay(ops: Seq[Op]): Map[Int, PersonRow] = {
    val state = scala.collection.mutable.Map[Int, PersonRow]()
    ops.sortBy(_.lsn).foreach { op =>
      op.action match {
        case "I" => state.get(op.id) match {
          case Some(old) => // ON CONFLICT DO UPDATE keeps created_at (replicator/main.go:204-217)
            state(op.id) = old.copy(name = op.name, uid = op.uid, score = op.score)
          case None =>
            state(op.id) = PersonRow(op.id, op.name, op.uid, op.score,
              java.sql.Timestamp.valueOf(op.createdAt))
        }
        case "U" => state.get(op.id).foreach { old => // UPDATE misses are no-ops
          state(op.id) = old.copy(name = op.name, uid = op.uid, score = op.score)
        }
        case "D" => state.remove(op.id) // replicator/main.go:260-261
      }
    }
    state.toMap
  }
}
