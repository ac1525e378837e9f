package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.queries.EventQueries

/** Round-12 operators vs independent plain-Scala models over the
  * sf0.001 driver corpus: star-contraction connected components, RFM
  * segmentation, k-NN classification eval, Simpson concentration, and
  * the streaming tombstone twin. */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // ---------------- star-contraction CC ------------------------------

  /** Plain-Scala union-find — the independent component model. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("star contraction matches union-find on random graphs and " +
      "agrees with pointer-doubling min-label propagation") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 60
      val edges = (1 to 80).map { _ =>
        (rnd.nextInt(n).toLong * 13L + 5L, rnd.nextInt(n).toLong * 13L + 5L)
      }.filter(e => e._1 != e._2)
      val df = edges.toDF("doc_a", "doc_b")
      val stars = Dedup.starComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = unionFind(edges)
      assert(stars === expected, s"trial $trial")
      val labels = Dedup.minLabelComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stars === labels, s"trial $trial vs min-label")
    }
  }

  test("star contraction: worst-case chain, disjoint components, " +
      "empty edge relation") {
    import spark.implicits._
    // the 100-link chain that forces multiple contraction rounds
    val chain = (0 until 100).map(i => (i * 7L + 3L, (i + 1) * 7L + 3L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.starComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 101)
    assert(labels.values.toSet === Set(3L))

    val two = Seq((10L, 20L), (20L, 30L), (100L, 200L)).toDF("doc_a", "doc_b")
    val l2 = Dedup.starComponents(two)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 === Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      100L -> 100L, 200L -> 100L))

    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.starComponents(none).collect().isEmpty)
  }

  // ---------------- RFM segmentation ---------------------------------

  test("RFM segment census matches a local quartile model") {
    val evs = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts DIV 1000L").as("ts_us"),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // per-user aggregates with DECIMAL(28,2)-equivalent money handling
    val byUser = evs.groupBy(_._1).map { case (u, rows) =>
      val lastUs = rows.map(_._2).max
      val monetary = rows.map(r =>
          BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum
      (u, lastUs, rows.size.toLong, monetary)
    }.toSeq
    val maxUs = byUser.map(_._2).max
    val users = byUser.map { case (u, lastUs, f, m) =>
      (u, (maxUs - lastUs) / 86400000000L, f, m)
    }
    // nearest-rank quartile boundary: the ceil(p*n)-th smallest value
    def bounds[T](vs: Seq[T])(implicit o: Ordering[T]): Seq[T] = {
      val sorted = vs.sorted
      Seq(0.25, 0.5, 0.75).map(p =>
        sorted(math.ceil(p * sorted.size).toInt - 1))
    }
    def score[T](bs: Seq[T], v: T)(implicit o: Ordering[T]): Long =
      1L + bs.count(b => o.lt(b, v))
    val rb = bounds(users.map(_._2))
    val fb = bounds(users.map(_._3))
    val mb = bounds(users.map(_._4))
    val expected = users
      .map { case (_, r, f, m) =>
        ((score(rb, r), score(fb, f), score(mb, m)), m)
      }
      .groupBy(_._1)
      .map { case (k, xs) =>
        (k._1, k._2, k._3, xs.size.toLong, xs.map(_._2).sum.toDouble)
      }.toSeq.sorted
    val got = EventQueries.wRfm(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got === expected)
    // every score is a quartile index and all users are accounted for
    assert(got.map(_._4).sum === users.size)
    assert(got.flatMap(t => Seq(t._1, t._2, t._3)).forall(s =>
      s >= 1 && s <= 4))
  }

  // ---------------- k-NN classification eval -------------------------

  test("k-NN eval matches a local majority-vote model") {
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "label", "CAST(embedding AS array<double>)")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Double](2).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val norm = vecs.map { case (id, l, v) =>
      (id, l, v, math.sqrt(dot(v, v)))
    }
    val preds = norm.filter(_._1 < 64).map { case (pid, tl, pv, pn) =>
      val nn = norm.filter(_._1 != pid)
        .map { case (id, l, v, n) => (dot(pv, v) / (pn * n), id, l) }
        .sortBy { case (c, id, _) => (-c, id) }
        .take(5)
      val vote = nn.groupBy(_._3).map { case (l, xs) => (l, xs.size) }
        .toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      (tl, vote)
    }
    val expected = preds.groupBy(_._1).map { case (l, xs) =>
      val correct = xs.count(p => p._2 == p._1).toLong
      (l, xs.length.toLong, correct,
        correct.toDouble / xs.length.toDouble)
    }.toSeq.sorted
    val got = Similarity.sKnnClassify(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.map(_._2).sum === 64L)
  }

  // ---------------- Simpson concentration ----------------------------

  test("Simpson concentration matches a local unigram model") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, text) =>
      val toks = text.trim.split("\\s+").toSeq
      val counts = toks.groupBy(identity).values.map(_.size.toLong)
      val n = toks.size.toLong
      val rep = counts.map(c => c * (c - 1)).sum
      val simpson =
        if (n > 1) Some(rep.toDouble / (n * (n - 1)).toDouble) else None
      (id, n, counts.size.toLong, rep, simpson)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.tSimpsonDiversity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got === expected)
    // the index is a probability
    assert(got.flatMap(_._5).forall(s => s >= 0.0 && s <= 1.0))
  }

  // ---------------- threshold calibration -----------------------------

  test("threshold calibration matches a local exact all-pairs model") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).trim.split("\\s+").toSeq.sliding(3)
          .filter(_.size == 3).map(_.mkString(" ")).toSet))
    val bins = scala.collection.mutable.Map.empty[Long, Long]
    for (i <- docs.indices; j <- (i + 1) until docs.length) {
      val (a, b) = (docs(i)._2, docs(j)._2)
      val inter = (a & b).size
      val j2 = inter.toDouble / (a.size + b.size - inter).toDouble
      if (j2 >= 0.7) {
        val bin = math.floor(j2 * 20).toLong
        bins(bin) = bins.getOrElse(bin, 0L) + 1L
      }
    }
    val sorted = bins.toSeq.sortBy(-_._1)
    val cums = sorted.scanLeft(0L)(_ + _._2).tail
    val expected = sorted.zip(cums)
      .map { case ((bin, n), cum) => (bin, n, cum) }.sortBy(_._1)
    val got = Dedup.dThresholdCalibration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // the curve is a descending cumulative: retained counts decrease
    // as the bin (threshold floor) rises
    assert(got.sliding(2).forall {
      case Seq(a, b) => a._3 >= b._3; case _ => true })
  }

  // ---------------- MAD anomaly ---------------------------------------

  test("MAD anomaly days match a local robust-stats model") {
    val daily = Tables.events(spark, dir)
      .selectExpr("event_type", s"ts DIV ${86400L * 1000000000L} AS d")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case ((t, d), xs) => (t, d, xs.size.toLong) }
      .toSeq
    def median(vs: Seq[Long]): Long = {
      val s = vs.sorted
      s(math.ceil(0.5 * s.size).toInt - 1)
    }
    val expected = daily.groupBy(_._1).flatMap { case (t, rows) =>
      val med = median(rows.map(_._3))
      val devs = rows.map(r => (r._2, r._3, math.abs(r._3 - med)))
      val mad = median(devs.map(_._3))
      devs.filter(_._3 > 3 * mad).map { case (d, c, _) =>
        (t, d, c, med, mad, c > med)
      }
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = EventQueries.wAnomalyMad(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got === expected)
  }


  // ---------------- multi-source BFS ----------------------------------

  test("BFS distances match a local breadth-first model") {
    import spark.implicits._
    // a hand-built graph with known distances: seeds are multiples of 10
    val edges = Seq((10L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), // chain: 4 is 4 hops
      (20L, 21L), (21L, 22L), // short arm
      (5L, 6L)) // island, unreachable from seeds
    // local BFS model
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil); adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val nodes = adj.keySet
    val distExp = scala.collection.mutable.Map.empty[Long, Long]
    nodes.filter(_ % 10 == 0).foreach(n => distExp(n) = 0L)
    (1 to 3).foreach { h =>
      val frontier = distExp.keys.toSeq
      frontier.flatMap(adj(_)).foreach { n =>
        if (!distExp.contains(n)) distExp(n) = h.toLong
      }
    }
    // the operator's loop over the same edge relation (the declared
    // query's coEdges wrapper is exercised by the gate; this pins the
    // BFS core on a graph with a known answer)
    val df = edges.toDF("u", "v")
    val directed = df.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(df.select(col("v").as("src"), col("u").as("dst")))
    var dist = directed.select(col("src").as("n")).distinct()
      .filter(pmod(col("n"), lit(10)) === 0)
      .withColumn("dist", lit(0L))
    (1 to 3).foreach { h =>
      val next = directed.join(dist.select(col("n").as("src")), Seq("src"))
        .select(col("dst").as("n")).distinct()
        .withColumn("dist", lit(h.toLong))
      dist = dist.unionByName(next)
        .groupBy(col("n")).agg(min(col("dist")).as("dist"))
    }
    val got = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === distExp.toMap)
    assert(!got.contains(4L) && !got.contains(5L) && !got.contains(6L))
    assert(got(22L) === 2L && got(3L) === 3L)
    // and the declared query runs end-to-end over the real graph
    val real = EventQueries.gBfsDistance(spark, dir).collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getLong(1) >= 0L && r.getLong(1) <= 3L))
  }

  // ---------------- ANN recall report ---------------------------------

  test("ANN recall report equals the set intersection of the index and " +
      "brute-force outputs") {
    val ann = Similarity.sAnnKmeans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.sCosineTopk(spark, dir, k = 3, nQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val expected = brute.groupBy(_._1).map { case (q, ns) =>
      val hit = ns.count(ann.contains).toLong
      (q, 3L, hit, hit.toDouble / 3.0)
    }.toSeq.sorted
    val got = Similarity.sAnnRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === expected)
    assert(got.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    // the report is non-degenerate: the index does find neighbors
    assert(got.map(_._3).sum > 0)
  }

  TwinProperty.tests("Round12Spec").foreach { case (title, twins) =>
    test(title)(twins.foreach(TwinProperty.check(spark, _)))
  }
}
