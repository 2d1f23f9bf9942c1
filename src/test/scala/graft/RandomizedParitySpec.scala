package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Joins, SortKey, Windows}

/** Randomized brute-force parity for the two subtlest operators:
  * prefix-filtered / dense Jaccard joins vs an in-memory model over
  * random corpora (small vocabularies force shingle collisions), and the
  * as-of join vs a per-row scan model (ties, inclusivity, missing
  * matches). The reference's parallel ≡ local discipline, applied to the
  * operators whose correctness arguments are least obvious.
  */
class RandomizedParitySpec extends SparkSpec {

  import spark.implicits._

  private def bruteJaccard(docs: Seq[(Long, String)], threshold: Double): Set[(Long, Long, Double)] = {
    def shingles(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toIndexedSeq
      if (toks.length < 2) Set.empty
      else toks.sliding(2).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }.filter(_._2.nonEmpty)
    (for {
      (d1, s1) <- sets; (d2, s2) <- sets if d1 < d2
      i = (s1 & s2).size
      j = i.toDouble / (s1.size + s2.size - i) if j >= threshold
    } yield (d1, d2, math.rint(j * 1e6) / 1e6)).toSet
  }

  test("prefix-filtered and dense Jaccard equal brute force on random corpora") {
    val rnd = new scala.util.Random(31L)
    (1 to 5).foreach { trial =>
      val vocabSize = 4 + rnd.nextInt(12) // tiny vocab → heavy collisions
      val vocab = Vector.tabulate(vocabSize)(i => s"w$i")
      val docs = (0L until (15 + rnd.nextInt(25)).toLong).map { id =>
        val len = 1 + rnd.nextInt(12) // includes docs too short to shingle
        id -> Seq.fill(len)(vocab(rnd.nextInt(vocabSize))).mkString(" ")
      }
      val expected = bruteJaccard(docs, 0.5)
      val df = docs.toDF("doc_id", "text")
      def canon(out: org.apache.spark.sql.DataFrame) =
        out.select(col("d1"), col("d2"), round(col("jacc"), 6).as("j")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(canon(Dedup.jaccardPairs(df, "doc_id", "text", 2, 0.5)) == expected,
        s"prefix-filter diverged on trial $trial")
      assert(canon(Dedup.jaccardPairsDense(df, "doc_id", "text", 2, 0.5, groups = 3)) == expected,
        s"dense diverged on trial $trial")
    }
  }

  test("lmScore equals an in-memory bigram model on random corpora") {
    val rnd = new scala.util.Random(47L)
    (1 to 5).foreach { trial =>
      val vocabSize = 3 + rnd.nextInt(10)
      val vocab = Vector.tabulate(vocabSize)(i => s"t$i")
      def corpus(n: Int): Seq[(Long, String)] = (0L until n.toLong).map { id =>
        val len = 1 + rnd.nextInt(10) // includes one-token docs (no bigram)
        id -> Seq.fill(len)(vocab(rnd.nextInt(vocabSize))).mkString(" ")
      }
      val lmDocs = corpus(8 + rnd.nextInt(10))
      val tgtDocs = corpus(6 + rnd.nextInt(8)).map { case (id, t) => (id + 100L, t) }
      val k = 0.5
      // in-memory model (mirrors the operator contract, not its plan)
      def toks(t: String) = t.trim.split("\\s+").toIndexedSeq
      val uni = lmDocs.flatMap(d => toks(d._2)).groupBy(identity).map { case (w, g) => w -> g.size }
      val bi = lmDocs.flatMap(d => toks(d._2).sliding(2).filter(_.size == 2).map(_.mkString(" ")))
        .groupBy(identity).map { case (s, g) => s -> g.size }
      val V = uni.size.toDouble
      val expected = tgtDocs.flatMap { case (id, t) =>
        val bgs = toks(t).sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        if (bgs.isEmpty) None
        else {
          val ce = bgs.map { s =>
            val w1 = s.split(" ")(0)
            val p = (bi.getOrElse(s, 0) + k) / (uni.getOrElse(w1, 0) + k * V)
            -math.log(p) / math.log(2)
          }.sum / bgs.size
          Some(id -> (bgs.size.toLong, math.rint(ce * 1e6) / 1e6))
        }
      }.toMap
      val got = graft.operators.TextOps.lmScore(
          lmDocs.toDF("doc_id", "text"), tgtDocs.toDF("doc_id", "text"),
          "doc_id", "text", addK = k)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), math.rint(r.getDouble(2) * 1e6) / 1e6))
        .toMap
      assert(got == expected, s"lmScore diverged on trial $trial")
    }
  }

  test("tfidfTopK equals an in-memory model on random corpora") {
    val rnd = new scala.util.Random(83L)
    (1 to 5).foreach { trial =>
      val vocabSize = 3 + rnd.nextInt(10)
      val vocab = Vector.tabulate(vocabSize)(i => s"t$i")
      val docs = (0L until (8 + rnd.nextInt(12)).toLong).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocabSize))).mkString(" ")
      }
      val k = 3
      def toks(t: String) = t.trim.split("\\s+").toIndexedSeq
      val n = docs.size.toDouble
      val dfreq = docs.flatMap(d => toks(d._2).distinct).groupBy(identity)
        .map { case (w, g) => w -> g.size }
      val expected = docs.flatMap { case (id, t) =>
        toks(t).groupBy(identity).toSeq
          .map { case (w, g) =>
            val s = g.size * (math.log((1 + n) / (1 + dfreq(w))) + 1)
            (w, g.size.toLong, math.rint(s * 1e6) / 1e6)
          }
          .sortBy { case (w, _, s) => (-s, w) }
          .take(k).zipWithIndex
          .map { case ((w, tf, s), i) => (id, w, tf, s, (i + 1).toLong) }
      }.toSet
      val got = graft.operators.TextOps.tfidfTopK(
          docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .toSet
      assert(got == expected, s"tfidfTopK diverged on trial $trial")
    }
  }

  test("as-of join never matches NULL keys (SQL ASOF equality semantics)") {
    val left = Seq((1L, Option.empty[Long], 10L), (2L, Option(1L), 10L))
      .toDF("lid", "k", "ts")
    val right = Seq((7L, Option.empty[Long], 5L), (8L, Option(1L), 5L))
      .toDF("rid", "k", "ts")
    val out = Joins.asOf(left, right, Seq("k"), "ts", "ts", Seq("rid"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(2L) == Some(8L), "non-null key must match normally")
    assert(out(1L) == None, "a null-keyed left row must never adopt a null-keyed right payload")
  }

  test("as-of join: a latest right row with NULL payload wins (not skipped)") {
    val left = Seq((1L, 1L, 10L)).toDF("lid", "k", "ts")
    val right = Seq((7L: java.lang.Long, 1L, 2L), (null.asInstanceOf[java.lang.Long], 1L, 5L))
      .toDF("rid", "k", "ts")
    val out = Joins.asOf(left, right, Seq("k"), "ts", "ts", Seq("rid")).head()
    assert(out.isNullAt(3),
      "the ts=5 right row (rid=NULL) is the latest match; its null payload must not be skipped for the older rid=7")
  }

  test("as-of join equals a per-row scan model with ties and gaps") {
    val rnd = new scala.util.Random(41L)
    (1 to 5).foreach { trial =>
      val users = 1 + rnd.nextInt(4)
      val left = (0 until 30).map { i =>
        (i.toLong, rnd.nextInt(users).toLong, rnd.nextInt(50).toLong) // (id, key, ts)
      }
      val right = (0 until 20).map { i =>
        (100L + i, rnd.nextInt(users).toLong, rnd.nextInt(50).toLong)
      }
      // dedup right per (key, ts) keeping max id — the documented contract
      val rightDedup = right.groupBy(r => (r._2, r._3)).values
        .map(g => g.maxBy(_._1)).toSeq
      val expected = left.map { case (lid, key, ts) =>
        val cands = rightDedup.filter(r => r._2 == key && r._3 <= ts)
        lid -> (if (cands.isEmpty) None
                else Some(cands.maxBy(r => (r._3, r._1))._1))
      }.toMap
      val lDf = left.toDF("lid", "k", "ts")
      val rDf = rightDedup.toDF("rid", "k", "ts")
      val out = Joins.asOf(lDf, rDf, Seq("k"), "ts", "ts", Seq("rid")).collect()
        .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
      assert(out == expected, s"as-of diverged on trial $trial")
    }
  }

  test("histogram-cut budget selection equals the greedy model on hostile randoms") {
    val rnd = new scala.util.Random(47L)
    (1 to 5).foreach { trial =>
      val groups = 1 + rnd.nextInt(4)
      // hostile score distribution: negatives, heavy ties (coarse grid of
      // its own), and a huge outlier weight somewhere
      val rows = (0L until (30 + rnd.nextInt(60)).toLong).map { id =>
        val g = s"g${rnd.nextInt(groups)}"
        val w = if (rnd.nextInt(20) == 0) 500L else 1L + rnd.nextInt(9).toLong
        val score = math.rint((rnd.nextDouble() * 4 - 2) * 50) / 50.0 // ties
        (id, g, w, score)
      }
      val budget = 10L + rnd.nextInt(150).toLong
      // greedy model: per group, (score desc, id asc) prefix while cum <= B
      val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val order = rs.sortBy(r => (-r._4, r._1))
        var cum = 0L
        order.takeWhile { r => cum += r._3; cum <= budget }.map(_._1)
      }.toSet
      val df = rows.toDF("id", "grp", "w", "score")
      val got = graft.operators.Sampling
        .selectByBudget(df, "grp", "id", "w", "score", budget,
          binScale = rnd.nextInt(3)) // grid coarseness varies per trial
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"budget selection diverged on trial $trial (budget $budget)")
    }
  }

  test("per-group quantile histogram cut equals the sorted model on hostile randoms") {
    val rnd = new scala.util.Random(53L)
    (1 to 5).foreach { trial =>
      val groups = 1 + rnd.nextInt(3)
      val rows = (0L until (20 + rnd.nextInt(80)).toLong).map { id =>
        val g = s"g${rnd.nextInt(groups)}"
        // negatives, exact ties, the occasional extreme value, values
        // whose scaled floor saturates a long (±1e300), and ±Infinity
        val v = rnd.nextInt(7) match {
          case 0 => -7.5
          case 1 => 1e6 + rnd.nextInt(3)
          case 2 => if (rnd.nextBoolean()) 1e300 else -1e300
          case 3 if rnd.nextInt(3) == 0 =>
            if (rnd.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity
          case _ => math.rint((rnd.nextDouble() * 10 - 5) * 10) / 10.0
        }
        (id, g, v)
      }
      val probs = Seq(0.01, 0.5, 0.9, 1.0)
      val expected = rows.groupBy(_._2).flatMap { case (g, rs) =>
        val sorted = rs.map(_._3).sorted
        probs.map { p =>
          val rank = math.max(1L, math.ceil(p * sorted.length).toLong)
          (g, p, sorted((rank - 1).toInt))
        }
      }.toSet
      val df = rows.toDF("id", "grp", "v")
      val got = graft.operators.Quantiles
        .exactPerGroup(df, "grp", "v", probs, binScale = rnd.nextInt(3))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(got == expected, s"per-group quantiles diverged on trial $trial")
    }
  }

  test("global exact quantiles (histogram cut) equal the percentile aggregate on hostile randoms") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(59L)
    (1 to 5).foreach { trial =>
      // negatives, exact ties, huge outliers (stretching the auto grid to
      // its coarse clamp), sub-unit clusters (stretching it fine), values
      // whose scaled floor saturates a long (±1e300), and ±Infinity
      val rows = (0L until (4L * (4 + rnd.nextInt(22)) + 1)).map { id =>
        val v = rnd.nextInt(8) match {
          case 0 => -1234.5
          case 1 => 9.9e8 + rnd.nextInt(4)
          case 2 => rnd.nextDouble() * 1e-3
          case 3 => if (rnd.nextBoolean()) 1e300 else -1e300
          case 4 if rnd.nextInt(3) == 0 =>
            if (rnd.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity
          case _ => math.rint((rnd.nextDouble() * 20 - 10) * 4) / 4.0
        }
        (id, v)
      }
      // n - 1 is a multiple of 4, so every p·(n-1) is an integral position:
      // the result is an order statistic, whatever interpolation formula
      val probs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
      val df = rows.toDF("id", "v")
      val got = graft.operators.Quantiles.exact(df, "v", probs).head()
      val agg = df.agg(percentile(col("v"), typedlit(probs)).as("q"))
        .select(probs.indices.map(i => element_at(col("q"), i + 1)): _*).head()
      val expect = org.apache.spark.sql.Row(
        probs.indices.map(i => graft.operators.Det.round6(agg.getDouble(i))): _*)
      assert(got == expect, s"global quantiles diverged on trial $trial: $got vs $expect")
    }
  }

  test("map-side ntile equals window ntile on hostile randoms") {
    // hostile shapes for the histogram-cut assignment: heavy value ties
    // straddling tile boundaries (row-splitting, the part a value-only
    // threshold cannot express), groups smaller than the tile count
    // (repeated boundary ranks), negative values (negative bins), a null
    // group (its own partition), occasional NaN (ranks above all), ±1e300
    // (saturated bins) and ±Infinity
    val rnd = new scala.util.Random(47L)
    (1 to 6).foreach { trial =>
      val nGroups = 1 + rnd.nextInt(4)
      val k = 2 + rnd.nextInt(6)
      val rows = (0L until (2 + rnd.nextInt(50)).toLong).map { id =>
        val g = if (rnd.nextInt(8) == 0) null else s"g${rnd.nextInt(nGroups)}"
        val v = rnd.nextInt(30) match {
          case 0 | 1 => Double.NaN
          case 2 => Double.PositiveInfinity
          case 3 => Double.NegativeInfinity
          case 4 => 1e300 // saturates the bin grid, like -1e300
          case 5 => -1e300
          case _ => (rnd.nextInt(5) - 2).toDouble // 5 values → heavy ties
        }
        (g, v, id)
      }
      val df = rows.toDF("g", "v", "id")
      def canon(out: org.apache.spark.sql.DataFrame) =
        out.select(col("g"), col("id"), col("tile")).collect()
          .map(r => (Option(r.getString(0)), r.getLong(1)) -> r.getInt(2)).toMap
      val win = canon(Windows.withNtile(df, Seq("g"),
        Seq(SortKey("v"), SortKey("id")), k, "tile"))
      val ms = canon(Windows.ntileMapSide(df, Seq("g"), "v", "id", k))
      assert(ms == win, s"ntile diverged on trial $trial (k=$k)")
    }
  }

  test("map-side ntile: multi-value bins make the within-bin order load-bearing") {
    // fractional random values with binScale = 0 force every bin to hold
    // MANY distinct values, so a boundary bin's within-bin window must
    // order by the VALUE (v.asc) before the tie key — integer-tie trials
    // above have one distinct value per bin and never exercise that leg
    val rnd = new scala.util.Random(53L)
    (1 to 4).foreach { trial =>
      val k = 2 + rnd.nextInt(6)
      val rows = (0L until (10 + rnd.nextInt(60)).toLong).map { id =>
        val g = s"g${rnd.nextInt(3)}"
        val v = rnd.nextDouble() * 4 - 2 // continuous in [-2, 2)
        (g, v, id)
      }
      val df = rows.toDF("g", "v", "id")
      def canon(out: org.apache.spark.sql.DataFrame) =
        out.select(col("g"), col("id"), col("tile")).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      val win = canon(Windows.withNtile(df, Seq("g"),
        Seq(SortKey("v"), SortKey("id")), k, "tile"))
      val ms = canon(Windows.ntileMapSide(df, Seq("g"), "v", "id", k,
        binScale = 0))
      assert(ms == win, s"ntile diverged on fractional trial $trial (k=$k)")
    }
  }

  test("map-side ntile: two-column grouping equals the window form") {
    // the (source, language)-style cohort shape: multi-column groups key
    // the internal struct — hostile mix of a nullable string key and an
    // int key, heavy ties, fractional values, groups smaller than k
    val rnd = new scala.util.Random(59L)
    (1 to 4).foreach { trial =>
      val k = 2 + rnd.nextInt(5)
      val rows = (0L until (5 + rnd.nextInt(60)).toLong).map { id =>
        val g1 = if (rnd.nextInt(8) == 0) null else s"s${rnd.nextInt(3)}"
        val g2 = rnd.nextInt(3)
        val v = if (rnd.nextInt(4) == 0) (rnd.nextInt(3) - 1).toDouble
                else rnd.nextDouble() * 2 - 1
        (g1, g2, v, id)
      }
      val df = rows.toDF("g1", "g2", "v", "id")
      def canon(out: org.apache.spark.sql.DataFrame) =
        out.select(col("g1"), col("g2"), col("id"), col("tile")).collect()
          .map(r => (Option(r.getString(0)), r.getInt(1), r.getLong(2)) -> r.getInt(3))
          .toMap
      val win = canon(Windows.withNtile(df, Seq("g1", "g2"),
        Seq(SortKey("v"), SortKey("id")), k, "tile"))
      val ms = canon(Windows.ntileMapSide(df, Seq("g1", "g2"), "v", "id", k,
        binScale = 1))
      assert(ms == win, s"2-col ntile diverged on trial $trial (k=$k)")
    }
  }

  test("map-side ntile: k = 1 short-circuits to the constant tile") {
    val df = Seq(("a", 1.0, 1L), ("b", 2.0, 2L)).toDF("g", "v", "id")
    val out = Windows.ntileMapSide(df, Seq("g"), "v", "id", 1)
    assert(out.select("tile").collect().map(_.getInt(0)).toSeq == Seq(1, 1))
  }

  test("map-side ntile rejects null values loudly") {
    val df = Seq(("a", Some(1.0), 1L), ("a", None, 2L))
      .toDF("g", "v", "id")
    val e = intercept[IllegalArgumentException] {
      Windows.ntileMapSide(df, Seq("g"), "v", "id", 2).collect()
    }
    assert(e.getMessage.contains("null values"))
  }

  test("map-side ntile rejects inputs carrying its reserved internal columns") {
    // __gk / __bin are the plan's working columns: an input already
    // holding either would be silently overwritten and then dropped —
    // the operator must corrupt loudly, not quietly
    Seq("__gk", "__bin").foreach { reserved =>
      val df = Seq(("a", 1.0, 1L, "x"), ("a", 2.0, 2L, "y"))
        .toDF("g", "v", "id", reserved)
      val e = intercept[IllegalArgumentException] {
        Windows.ntileMapSide(df, Seq("g"), "v", "id", 2).collect()
      }
      assert(e.getMessage.contains(reserved), e.getMessage)
    }
  }
}
