package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded block-chain generator for the stream_cascade workload.
  *
  * A chain is one origin transaction at height `h0` whose first receipt
  * is executed `depth` times: hop d (1-based) runs at `h_d = h_{d-1} +
  * gap_d` on a contract of interest, spawns the next receipt (the last
  * hop spawns none) and carries zero or more EVENT_JSON logs. The
  * resolver's rule is per hop: a hop's receipt is known only while
  * `h_d - h_{d-1} <= ttl`, so the events of hop d resolve iff every gap
  * up to and including d is within the TTL. Resolved events land in the
  * `events` table and the silver MVs; unresolved ones are dropped
  * (warn-and-drop), while every hop still writes one receipt and one
  * execution-outcome row.
  *
  * Because the generator knows every chain, it returns the expected
  * FINAL row count of every product table per block, so the benchmark
  * checks any landed prefix of the chain without running the engine.
  *
  * The profile is the shape of the engine's own rich block fixture: one
  * transaction of interest per block and two hops, the first of gap 1
  * carrying nep245 + token_diff (and the other dip4 events on a seeded
  * fifth of blocks). The second hop follows with gap 1 and is routed to
  * the staging contract on a seeded seventh of chains; on a seeded tenth
  * of the others it comes 51–60 blocks late, past the TTL, often in a
  * later file, and carries a transfer that must stay unresolved. All
  * seven silver MVs receive rows.
  */
object ChainGen {

  val Ttl: Int = 50
  val BaseHeight: Long = 1000L
  /** Block timestamps start at the engine fixtures' T0 and advance one
    * second per block, so every block of a run (< 6400 blocks) shares
    * T0's UTC day — the day the asset price dimension covers. */
  val T0: Long = 1700000000000000000L

  /** Expected FINAL rows contributed by one block. `resolved` and
    * `unresolved` count events; `goldRows` counts the block's distinct
    * (block, token) pairs of resolved nep245 rows. */
  final case class Expect(
      transactions: Long = 0, receipts: Long = 0, outcomes: Long = 0,
      resolved: Long = 0, unresolved: Long = 0,
      nep245: Long = 0, tokenDiff: Long = 0, publicKeys: Long = 0,
      intentsExecuted: Long = 0, feeChanged: Long = 0, transfer: Long = 0,
      stagingTransfer: Long = 0, goldRows: Long = 0) {
    def +(o: Expect): Expect = Expect(
      transactions + o.transactions, receipts + o.receipts,
      outcomes + o.outcomes, resolved + o.resolved,
      unresolved + o.unresolved, nep245 + o.nep245,
      tokenDiff + o.tokenDiff, publicKeys + o.publicKeys,
      intentsExecuted + o.intentsExecuted, feeChanged + o.feeChanged,
      transfer + o.transfer, stagingTransfer + o.stagingTransfer,
      goldRows + o.goldRows)

    /** Expected FINAL rows per product table, by table name. */
    def byTable: Seq[(String, Long)] = Seq(
      "transactions" -> transactions, "receipts" -> receipts,
      "execution_outcomes" -> outcomes, "events" -> resolved,
      "silver_nep245" -> nep245, "silver_token_diff" -> tokenDiff,
      "silver_public_keys" -> publicKeys,
      "silver_intents_executed" -> intentsExecuted,
      "silver_fee_changed" -> feeChanged, "silver_transfer" -> transfer,
      "silver_staging_transfer" -> stagingTransfer,
      "gold_block_rollup" -> goldRows)
  }

  /** One generated chain: block heights `heights` (including the blocks
    * that carry nothing), each rendered as one JSON line, and the
    * expectation each block contributes. */
  final case class Corpus(heights: Vector[Long], json: Vector[String],
      expect: Vector[Expect]) {
    /** Expectations of the first `n` blocks. */
    def expectPrefix(n: Int): Expect =
      expect.iterator.take(n).foldLeft(Expect())(_ + _)
  }

  private final case class Hop(origin: String, depth: Int, d: Int,
      executor: String, logs: Seq[Event], resolves: Boolean)
  /** `kind` is the silver MV the event feeds; `token` is set for nep245. */
  private final case class Event(kind: String, json: String,
      token: Option[String])

  private def ej(standard: String, event: String, data: String): String =
    "EVENT_JSON:" +
      s"""{"standard":"$standard","version":"1.0.0","event":"$event","data":$data}"""

  private val Usdc = "nep141:usdc.near"

  private def nep245(tag: String, amount: Long, token: String): Event =
    Event("nep245", ej("nep245", "mt_transfer",
      s"""[{"memo":"m$tag","old_owner_id":"a$tag.near","new_owner_id":"b$tag.near","token_ids":["$token"],"amounts":["$amount"]}]"""),
      Some(token))
  private def tokenDiff(tag: String, amount: Long): Event =
    Event("token_diff", ej("dip4", "token_diff",
      s"""[{"account_id":"a$tag.near","diff":{"$Usdc":$amount},"intent_hash":"ih$tag","referral":"partner.near"}]"""),
      None)
  private def transfer(tag: String, amount: Long, kind: String): Event =
    Event(kind, ej("dip4", "transfer",
      s"""[{"memo":"t$tag","account_id":"a$tag.near","receiver_id":"b$tag.near","intent_hash":"ih$tag","tokens":{"$Usdc":"$amount"}}]"""),
      None)
  private def publicKey(tag: String): Event =
    Event("public_keys", ej("dip4", "public_key_added",
      s"""{"account_id":"a$tag.near","public_key":"ed25519:K$tag"}"""), None)
  private def feeChanged(tag: String, amount: Long): Event =
    Event("fee_changed", ej("dip4", "fee_changed",
      s"""{"old_fee":"$amount","new_fee":"${amount + 1}"}"""), None)
  private def intentsExecuted(tag: String): Event =
    Event("intents_executed", ej("dip4", "intents_executed",
      s"""[{"account_id":"a$tag.near","intent_hash":"ih$tag"}]"""), None)

  /** Generate `nBlocks` blocks from `seed`. Hops that would land past
    * the last block are not emitted. */
  def generate(seed: Long, nBlocks: Int): Corpus = {
    val rnd = new scala.util.Random(seed * 1000003L)
    val last = BaseHeight + nBlocks - 1
    val txsAt = Array.fill(nBlocks)(Vector.newBuilder[(String, String)])
    val hopsAt = Array.fill(nBlocks)(Vector.newBuilder[Hop])
    def at(h: Long): Int = (h - BaseHeight).toInt

    for (i <- 0 until nBlocks) {
      val h0 = BaseHeight + i
      val origin = s"${h0}x0"
      val staging = rnd.nextInt(7) == 0
      val late = !staging && rnd.nextInt(10) == 0
      val gaps = Array(1, if (late) Ttl + 1 + rnd.nextInt(10) else 1)
      txsAt(i) += ((s"tx$origin", s"r${origin}_0"))
      var h = h0
      var alive = true
      for (d <- 1 to 2) {
        h += gaps(d - 1)
        alive = alive && gaps(d - 1) <= Ttl
        val tag = s"${origin}_$d"
        val amount = 1L + rnd.nextInt(1000000)
        val logs: Seq[Event] =
          if (d == 1) {
            val extra =
              if (rnd.nextInt(5) != 0) Nil
              else Seq(transfer(tag, amount, "transfer"), publicKey(tag),
                feeChanged(tag, amount), intentsExecuted(tag))
            Seq(nep245(tag, amount, Usdc), tokenDiff(tag, amount)) ++ extra
          } else if (staging) Seq(transfer(tag, amount, "staging_transfer"))
          else if (late) Seq(transfer(tag, amount, "transfer"))
          else Nil
        val executor =
          if (staging && d == 2) "staging-intents.near" else "intents.near"
        if (h <= last)
          hopsAt(at(h)) += Hop(origin, 2, d, executor, logs, alive)
      }
    }

    val json = Vector.newBuilder[String]
    val expect = Vector.newBuilder[Expect]
    for (i <- 0 until nBlocks) {
      val h = BaseHeight + i
      val txs = txsAt(i).result()
      val hops = hopsAt(i).result()
      json += renderBlock(h, txs, hops)
      var e = Expect(transactions = txs.size, receipts = hops.size,
        outcomes = hops.size)
      val golds = scala.collection.mutable.Set.empty[String]
      for (hop <- hops; ev <- hop.logs) {
        if (!hop.resolves) e = e.copy(unresolved = e.unresolved + 1)
        else {
          e = e.copy(resolved = e.resolved + 1)
          e = ev.kind match {
            case "nep245" =>
              golds += ev.token.get
              e.copy(nep245 = e.nep245 + 1)
            case "token_diff" => e.copy(tokenDiff = e.tokenDiff + 1)
            case "transfer" => e.copy(transfer = e.transfer + 1)
            case "staging_transfer" =>
              e.copy(stagingTransfer = e.stagingTransfer + 1)
            case "public_keys" => e.copy(publicKeys = e.publicKeys + 1)
            case "fee_changed" => e.copy(feeChanged = e.feeChanged + 1)
            case "intents_executed" =>
              e.copy(intentsExecuted = e.intentsExecuted + 1)
          }
        }
      }
      expect += e.copy(goldRows = golds.size.toLong)
    }
    Corpus((0 until nBlocks).map(BaseHeight + _).toVector, json.result(),
      expect.result())
  }

  private def q(s: String): String = {
    val sb = new StringBuilder(s.length + 8).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val CallAction =
    """[{"action_type":"FunctionCall","params":"{\"method_name\":\"execute\"}","serializable":true}]"""

  /** One block as a JSON line in the engine's `Block` schema. */
  private def renderBlock(h: Long, txs: Vector[(String, String)],
      hops: Vector[Hop]): String = {
    val chunk =
      if (txs.isEmpty) "null"
      else txs.map { case (hash, rid) =>
        s"""{"transaction":{"hash":"$hash","signer_id":"alice.near","receiver_id":"intents.near","actions":$CallAction},""" +
          s""""outcome_id":"oc$hash","outcome":{"executor_id":"alice.near","receipt_ids":["$rid"],"status_kind":"SuccessReceiptId","logs":[],"tokens_burnt":"0","gas_burnt":1}}"""
      }.mkString("""{"transactions":[""", ",", "]}")
    val outs = hops.sortBy(hp => (hp.origin, hp.d)).map { hp =>
      val rid = s"r${hp.origin}_${hp.d - 1}"
      val children =
        if (hp.d < hp.depth) s"""["r${hp.origin}_${hp.d}"]""" else "[]"
      val pred = if (hp.d == 1) "alice.near" else "intents.near"
      s"""{"receipt":{"receipt_id":"$rid","receiver_id":"${hp.executor}","predecessor_id":"$pred","kind":"Action","actions":[],"data":null},""" +
        s""""outcome_id":"o${hp.origin}_${hp.d}","outcome":{"executor_id":"${hp.executor}","receipt_ids":$children,"status_kind":"SuccessValue",""" +
        s""""logs":${hp.logs.map(e => q(e.json)).mkString("[", ",", "]")},"tokens_burnt":"0","gas_burnt":2}}"""
    }.mkString("[", ",", "]")
    s"""{"header":{"height":$h,"timestamp":${T0 + (h - BaseHeight) * 1000000000L},"hash":"G$h"},""" +
      s""""shards":[{"chunk":$chunk,"receipt_execution_outcomes":$outs}]}"""
  }

  /** Write blocks `[from, until)` of `c` as one JSON-lines file named by
    * its first height, its mtime stamped from that height (the file
    * stream source orders files by modification time). */
  def writeFile(c: Corpus, from: Int, until: Int, dir: Path): Path = {
    Files.createDirectories(dir)
    val first = c.heights(from)
    val p = dir.resolve(f"$first%012d.json")
    val body = c.json.slice(from, until).mkString("", "\n", "\n")
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    p.toFile.setLastModified(1600000000000L + first * 1000L)
    p
  }
}
