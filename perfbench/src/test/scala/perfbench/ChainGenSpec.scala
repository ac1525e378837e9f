package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The generator's closed-form expectations against an independent
  * replay of the rendered blocks: parse every JSON line, fold the
  * receipt→transaction state block by block with the TTL refreshed at
  * each hop, and count what each product table must hold. */
class ChainGenSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private final case class Replay(txs: Long, receipts: Long, resolved: Long,
      unresolved: Long, byEvent: Map[String, Long], gold: Long)

  private def replay(c: ChainGen.Corpus, nBlocks: Int): Replay = {
    val entry = scala.collection.mutable.Map.empty[String, Long]
    var txs, receipts, resolved, unresolved = 0L
    val byEvent = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var gold = 0L
    c.json.take(nBlocks).foreach { line =>
      val b = mapper.readTree(line)
      val h = b.get("header").get("height").asLong
      val golds = scala.collection.mutable.Set.empty[String]
      b.get("shards").elements.asScala.foreach { shard =>
        val chunk = shard.get("chunk")
        if (!chunk.isNull) chunk.get("transactions").elements.asScala.foreach { t =>
          txs += 1
          t.get("outcome").get("receipt_ids").elements.asScala
            .foreach(r => entry.getOrElseUpdate(r.asText, h))
        }
        shard.get("receipt_execution_outcomes").elements.asScala.foreach { o =>
          receipts += 1
          val rid = o.get("receipt").get("receipt_id").asText
          val live = entry.get(rid).exists(e => h >= e && h - e <= ChainGen.Ttl)
          val out = o.get("outcome")
          if (live) out.get("receipt_ids").elements.asScala
            .foreach(r => entry.getOrElseUpdate(r.asText, h))
          out.get("logs").elements.asScala.foreach { log =>
            val ev: JsonNode = mapper.readTree(log.asText.stripPrefix("EVENT_JSON:"))
            if (!live) unresolved += 1
            else {
              resolved += 1
              val contract = out.get("executor_id").asText
              val name = ev.get("event").asText match {
                case "transfer" if contract.startsWith("staging") => "staging_transfer"
                case "public_key_added" => "public_keys"
                case other => other
              }
              byEvent(name) += 1
              if (ev.get("standard").asText == "nep245")
                golds += ev.get("data").get(0).get("token_ids").get(0).asText
            }
          }
        }
      }
      gold += golds.size
    }
    Replay(txs, receipts, resolved, unresolved, byEvent.toMap, gold)
  }

  private def check(seed: Long, n: Int): ChainGen.Expect = {
    val c = ChainGen.generate(seed, n)
    val e = c.expectPrefix(n)
    val r = replay(c, n)
    assert(e.transactions == r.txs)
    assert(e.receipts == r.receipts && e.outcomes == r.receipts)
    assert(e.resolved == r.resolved)
    assert(e.unresolved == r.unresolved)
    assert(e.nep245 == r.byEvent.getOrElse("mt_transfer", 0L))
    assert(e.tokenDiff == r.byEvent.getOrElse("token_diff", 0L))
    assert(e.transfer == r.byEvent.getOrElse("transfer", 0L))
    assert(e.stagingTransfer == r.byEvent.getOrElse("staging_transfer", 0L))
    assert(e.publicKeys == r.byEvent.getOrElse("public_keys", 0L))
    assert(e.feeChanged == r.byEvent.getOrElse("fee_changed", 0L))
    assert(e.intentsExecuted == r.byEvent.getOrElse("intents_executed", 0L))
    assert(e.goldRows == r.gold)
    e
  }

  test("closed-form counts match a replay of the blocks") {
    val e = check(seed = 7, n = 40)
    assert(e.transactions == 40)
    // every first hop carries an nep245 transfer and a token_diff
    assert(e.nep245 == 39 && e.tokenDiff == 39)
    assert(e.stagingTransfer > 0 && e.publicKeys > 0)
  }

  test("second hops past the TTL leave unresolved events") {
    val e = check(seed = 7, n = 300)
    assert(e.unresolved > 0 && e.resolved > 10 * e.unresolved)
  }

  test("a prefix of the chain has the counts of its blocks") {
    val c = ChainGen.generate(seed = 3, nBlocks = 300)
    val e = c.expectPrefix(160)
    val r = replay(c, 160)
    assert(e.resolved == r.resolved && e.unresolved == r.unresolved)
    assert(e.receipts == r.receipts)
  }

  test("the same seed gives the same blocks; another seed does not") {
    val a = ChainGen.generate(seed = 11, nBlocks = 30)
    assert(a == ChainGen.generate(seed = 11, nBlocks = 30))
    assert(a.json != ChainGen.generate(seed = 12, nBlocks = 30).json)
  }
}
