package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}

/** Drives the REPL main loop with a scripted stdin, asserting each verb
  * round-trips through the ViewSession (open → filter → sketches →
  * lineage → purge → error handling).
  */
class ReplSpec extends SparkSpec {

  private def script(lines: String*): String = scriptOn(spark)(lines: _*)

  private def scriptOn(session: org.apache.spark.sql.SparkSession)(lines: String*): String = {
    val in = new BufferedReader(new StringReader(lines.mkString("\n")))
    val bytes = new ByteArrayOutputStream()
    val out = new PrintStream(bytes, true, "UTF-8")
    Repl.run(session, sf, in, out)
    bytes.toString("UTF-8")
  }

  test("a fresh REPL session resolves graft functions in sql strings") {
    import org.apache.spark.sql.SparkSession
    // the REPL main's own session: LocalSession() over the shared context
    // (clear default/active so it builds anew; never stop it — that would
    // stop the shared context)
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = LocalSession()
      assert(fresh ne shared)
      val q = "SELECT graft_fdot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d"
      val out = scriptOn(fresh)(s"sql $q",
        "explain sql SELECT graft_fdot(array(CAST(n_nationkey AS FLOAT)), " +
          "array(CAST(2.0 AS FLOAT))) FROM nation", "quit")
      assert(out.contains("d\n5.5"), out)
      assert(out.contains("graft_fdot(") && !out.contains("error:"), out)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
      shared.sparkContext.setLogLevel("WARN") // LocalSession() set ERROR on the shared context
    }
  }

  test("scripted session: open, filter, sketches, lineage, purge") {
    val out = script(
      "open nation",
      "filter nation-1 n_regionkey = 0",
      "histogram filter-2 n_nationkey 0 25 5",
      "histogram filter-2 n_nationkey 0 25 5", // memo hit
      "summary nation-1 n_nationkey",
      "topk nation-1 n_name 3",
      "nextk nation-1 n_name 3",
      "nextk nation-1 n_name 3 M",
      "lineage filter-2",
      "views",
      "memo",
      "purge filter-2",
      "views",
      "bogus verb",
      "filter nation-99 n_regionkey = 0",
      "quit")
    assert(out.contains("view nation-1"), out)
    assert(out.contains("view filter-2"), out)
    assert(out.contains("bucket\tcnt"), s"histogram header missing:\n$out")
    assert(out.contains("hits=1"), s"second histogram must be a memo hit:\n$out")
    assert(out.contains("nation-1 -> filter-2"), out)
    assert(out.contains("unknown command: bogus"), out)
    assert(out.contains("error:"), "a missing view id must report, not crash")
    val afterPurge = out.linesIterator.toSeq
    assert(afterPurge.count(_.trim == "filter-2") == 1,
      s"filter-2 listed once before purge, absent after:\n$out")
  }

  test("progress streams per-batch partials and cache verbs manage the table registry") {
    val out = script(
      "open lineitem",
      "progress lineitem-1 l_extendedprice 900 105000 10 3",
      "cache nation",
      "uncache nation",
      "uncache",
      "quit")
    val partials = out.linesIterator.filter(_.contains("-> ")).toSeq
      .filter(_.contains("rows"))
    assert(partials.size == 3, s"3 batches -> 3 partial lines:\n$out")
    val totals = partials.map(_.split("-> ")(1).split(" ")(0).toLong)
    assert(totals == totals.sorted, s"partial totals must refine monotonically: $totals")
    assert(out.contains("pinned nation") && out.contains("purged nation"), out)
  }

  test("neardup, simsearch, chunk, and contaminate drive the training-data paths interactively") {
    val out = script(
      "open documents",
      "neardup documents-1 0.5",
      "open embeddings",
      "simsearch embeddings-2 3 5",
      "filter documents-1 doc_id % 2 = 0",
      "filter documents-1 doc_id % 2 = 1",
      "chunk documents-1 64 16",
      "contaminate filter-3 filter-4 3 10",
      "pack documents-1 64 16 512",
      "mix documents-1 source 2.0 200",
      "search documents-1 5 spark join",
      "sql SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1",
      "sql SELECT c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY 1",
      "explain documents-1",
      "explain sql SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
      "hardneg embeddings-2 0 5 0.25 0.45",
      "rrf documents-1 embeddings-2 0 5 spark join",
      "subdoc documents-1 10 1",
      "subdocclean documents-1 10 1",
      "lmscore filter-4 filter-3",
      "quit")
    // fixture has planted near-dup pairs → at least one d1/d2/jacc data row
    val dupHeader = out.linesIterator.indexWhere(_.startsWith("d1\t"))
    assert(dupHeader >= 0, s"neardup must render a d1/d2/jacc table:\n$out")
    assert(out.linesIterator.drop(dupHeader + 1).next().split("\t").length == 3,
      s"no near-dup rows rendered:\n$out")
    // simsearch: k=5 neighbour rows for query id 3
    val simHeader = out.linesIterator.indexWhere(_.startsWith("q_id\t"))
    assert(simHeader >= 0, s"simsearch must render a q_id table:\n$out")
    val simRows = out.linesIterator.drop(simHeader + 1).takeWhile(_.contains("\t")).toSeq
    assert(simRows.nonEmpty && simRows.forall(_.startsWith("3\t")),
      s"all neighbours must belong to query 3:\n$out")
    // chunk: renders (doc_id, chunk_no, n_chunk_tokens, chunk_hash) rows
    val chunkHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\tchunk_no"))
    assert(chunkHeader >= 0, s"chunk must render a chunk table:\n$out")
    // contaminate: even-id train docs vs odd-id eval — the near-uniform
    // fixture vocabulary guarantees flagged rows at minHits=10
    val contHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\tn_hits"))
    assert(contHeader >= 0, s"contaminate must render a doc_id/n_hits table:\n$out")
    assert(out.linesIterator.drop(contHeader + 1).next().split("\t").length == 2,
      s"no contaminated rows rendered:\n$out")
    // pack: per-(source, bin) fill stats with at least one packed bin
    val packHeader = out.linesIterator.indexWhere(_.startsWith("source\tbin"))
    assert(packHeader >= 0, s"pack must render a source/bin table:\n$out")
    assert(out.linesIterator.drop(packHeader + 1).next().split("\t").length == 4,
      s"no packed bins rendered:\n$out")
    // search: BM25 (doc_id, score) rows, scores non-increasing
    val searchHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\tscore"))
    assert(searchHeader >= 0, s"search must render a doc_id/score table:\n$out")
    val searchScores = out.linesIterator.drop(searchHeader + 1)
      .takeWhile(l => l.contains("\t") && l.split("\t")(0).forall(_.isDigit))
      .map(_.split("\t")(1).toDouble).toSeq
    assert(searchScores.nonEmpty && searchScores == searchScores.sorted.reverse,
      s"search scores must render non-increasing:\n$out")
    // sql: raw SQL renders a grouped table (3 returnflag rows) and the
    // correlated NOT EXISTS parses — header + at least one data line
    val sqlHeader = out.linesIterator.indexWhere(_.startsWith("l_returnflag\tcnt"))
    assert(sqlHeader >= 0, s"sql verb must render the grouped table:\n$out")
    val sqlRows = out.linesIterator.drop(sqlHeader + 1)
      .takeWhile(l => l.contains("\t") && l.split("\t")(1).forall(_.isDigit)).toSeq
    assert(sqlRows.map(_.split("\t")(0)).sorted == Seq("A", "N", "R"),
      s"sql verb must render all three returnflag groups:\n$out")
    assert(out.contains("c_name"), s"sql NOT EXISTS form must render a header:\n$out")
    // explain: view plan shows the parquet scan; sql plan shows the join
    assert(out.contains("FileScan parquet"), s"explain must print a physical plan:\n$out")
    assert(out.contains("Join"), s"explain sql must show the join operator:\n$out")
    // hardneg: (q_id, n_id, sim, rk) page, every sim inside the band
    val hnHeader = out.linesIterator.indexWhere(_.startsWith("q_id\tn_id\tsim"))
    assert(hnHeader >= 0, s"hardneg must render a q_id/n_id/sim table:\n$out")
    val hnSims = out.linesIterator.drop(hnHeader + 1)
      .takeWhile(l => l.contains("\t") && l.split("\t")(0).forall(_.isDigit))
      .map(_.split("\t")(2).toDouble).toSeq
    assert(hnSims.forall(v => v >= 0.25 && v < 0.45),
      s"mined negative outside the band:\n$out")
    // rrf: fused (id, rrf, n_lists, rk) page with dense ranks from 1
    val rrfHeader = out.linesIterator.indexWhere(_.startsWith("id\trrf"))
    assert(rrfHeader >= 0, s"rrf must render an id/rrf table:\n$out")
    val rrfRows = out.linesIterator.drop(rrfHeader + 1)
      .takeWhile(l => l.contains("\t") && l.split("\t")(0).forall(_.isDigit)).toSeq
    assert(rrfRows.nonEmpty &&
      rrfRows.map(_.split("\t")(3).toLong) == (1L to rrfRows.length).toSeq,
      s"rrf ranks must be dense from 1:\n$out")
    // mix: per-source kept counts, each a (source, kept) pair
    val mixHeader = out.linesIterator.indexWhere(_.startsWith("source\tkept"))
    assert(mixHeader >= 0, s"mix must render a source/kept table:\n$out")
    val mixRows = out.linesIterator.drop(mixHeader + 1)
      .takeWhile(l => l.contains("\t") && l.split("\t")(1).forall(_.isDigit)).toSeq
    assert(mixRows.nonEmpty && mixRows.forall(_.split("\t")(1).toLong > 0),
      s"mix kept-counts missing or zero:\n$out")
    // subdoc: per-doc span stats table
    val sdHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\tn_spans"))
    assert(sdHeader >= 0, s"subdoc must render a doc_id/n_spans table:\n$out")
    assert(out.linesIterator.drop(sdHeader + 1).next().split("\t").length == 4,
      s"no subdoc rows rendered:\n$out")
    // subdocclean: the cleaned documents themselves
    val scHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\tclean_text"))
    assert(scHeader >= 0, s"subdocclean must render a doc_id/clean_text table:\n$out")
    assert(out.linesIterator.drop(scHeader + 1).next().split("\t").length == 3,
      s"no subdocclean rows rendered:\n$out")
    // lmscore: odd-id docs scored under the even-id LM — a ce table
    val lmHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\tn_bigrams\tcross_entropy"))
    assert(lmHeader >= 0, s"lmscore must render a cross_entropy table:\n$out")
    assert(out.linesIterator.drop(lmHeader + 1).next().split("\t").length == 4,
      s"no lmscore rows rendered:\n$out")
  }

  test("filter predicates keep embedded whitespace intact") {
    import spark.implicits._
    val sess = new ViewSession(spark)
    val vid = sess.open("pad", Seq("a  b", "a b").toDF("name"))
    // the double-space literal must select the double-space row; an eval
    // that retokenizes the command with single spaces would silently
    // rewrite the predicate to 'a b' and match the WRONG row
    val resp = Repl.eval(spark, sess, sf, s"filter ${vid.value} name = 'a  b'")
    val child = ViewId(resp.stripPrefix("view "))
    val matched = sess(child).df.collect().map(_.getString(0)).toSeq
    assert(matched == Seq("a  b"), s"predicate was rewritten: matched $matched")
  }

  test("nextk pages advance from the start row") {
    val out = script("open nation", "nextk nation-1 n_name 3", "quit")
    val firstPage = out.linesIterator.dropWhile(!_.startsWith("n_name")).drop(1).take(3).toSeq
    assert(firstPage.size == 3 && firstPage.forall(_.split("\t").length == 2), out)
  }

  test("groups labels near-dup components; dedup registers a composable child view") {
    val out = script(
      "open documents",
      "groups documents-1 0.5",
      "dedup documents-1 0.5",
      "filter dedup-2 n_members > 1",
      "lineage filter-3",
      "quit")
    // groups: (id, rep_id) labels for every doc
    val gHeader = out.linesIterator.indexWhere(_.startsWith("id\trep_id"))
    assert(gHeader >= 0, s"groups must render an id/rep_id table:\n$out")
    assert(out.linesIterator.drop(gHeader + 1).next().split("\t").length == 2,
      s"no component rows rendered:\n$out")
    // dedup: a child VIEW in the session lineage — interactive verbs
    // compose over the one-representative-per-component corpus
    assert(out.contains("view dedup-2"), out)
    assert(out.contains("documents-1 -> dedup-2 -> filter-3"),
      s"dedup view must join the lineage chain:\n$out")
  }

  test("funnel and retention verbs render product analytics; budget/cap register curated views") {
    val out = script(
      "open events",
      "funnel events-1 view click purchase",
      "retention events-1",
      "anomaly events-1",
      "overlap events-1",
      "open documents",
      "tiers documents-2",
      "budget documents-2 300",
      "cap documents-2 5",
      "lineage cap-4",
      "quit")
    val fHeader = out.linesIterator.indexWhere(_.startsWith("step\tevent_type\tn_users"))
    assert(fHeader >= 0, s"funnel must render a step table:\n$out")
    assert(out.linesIterator.drop(fHeader + 1).next().startsWith("1\tview"),
      s"funnel step 1 must be the anchor type:\n$out")
    assert(out.linesIterator.exists(_.startsWith("cohort_week\tweek_offset\tn_users")),
      s"retention must render cohort cells:\n$out")
    assert(out.linesIterator.exists(_.startsWith("window_start\tevent_type\tcnt\tz")),
      s"anomaly must render flagged windows:\n$out")
    assert(out.linesIterator.exists(_.startsWith("key_a\tkey_b\tn_a\tn_b\tn_intersect\tn_union")),
      s"overlap must render the audience matrix:\n$out")
    val tHeader = out.linesIterator.indexWhere(_.startsWith("source\ttier\tn_docs\tn_tokens"))
    assert(tHeader >= 0, s"tiers must render the (source, tier) rollup:\n$out")
    assert(out.linesIterator.drop(tHeader + 1).next().split("\t").length == 4,
      s"no tier rows rendered:\n$out")
    // budget/cap register curated child views composable downstream
    assert(out.contains("view budget-3"), out)
    assert(out.contains("view cap-4"), out)
    assert(out.contains("documents-2 -> cap-4"),
      s"cap view must join the lineage chain:\n$out")
  }

  test("tiers accepts comma-joined cohort columns; malformed cohort lists fail loudly") {
    // the multi-column-cohort shape: terciles within each (source, lang)
    // slice, via the withStructKey composition behind the verb
    val out = script(
      "open documents",
      "tiers documents-1 3 source,lang",
      "quit")
    val h = out.linesIterator.indexWhere(_.startsWith("source\tlang\ttier\tn_docs\tn_tokens"))
    assert(h >= 0, s"multi-cohort tiers must render the (source, lang, tier) rollup:\n$out")
    assert(out.linesIterator.drop(h + 1).next().split("\t").length == 5,
      s"no multi-cohort tier rows rendered:\n$out")
    // 'a,,b' / a trailing comma are typos, not cohorts: both verbs that
    // take comma-joined columns must reject them loudly (a silent filter
    // would tier/tile the wrong cohort without a trace)
    val bad = script(
      "open orders",
      "ntile orders-1 o_orderpriority,,o_orderstatus o_totalprice o_orderkey 3",
      "open documents",
      "tiers documents-2 3 source,",
      "quit")
    assert(bad.contains("bad cohort column list 'o_orderpriority,,o_orderstatus'"),
      s"empty ntile cohort segment must be rejected loudly:\n$bad")
    assert(bad.contains("bad cohort column list 'source,'"),
      s"trailing tiers cohort comma must be rejected loudly:\n$bad")
  }

  test("sample verb registers a reproducible hash-sampled child view") {
    val out = script(
      "open documents",
      "sample documents-1 doc_id 0.2",
      "summary sample-2 n_chars",
      "lineage sample-2",
      "quit")
    assert(out.contains("view sample-2"), out)
    assert(out.contains("documents-1 -> sample-2"),
      s"sample view must join the lineage chain:\n$out")
    // the sampled child must answer sketches like any view
    assert(out.linesIterator.exists(_.startsWith("cnt\t")),
      s"summary over the sampled child must render:\n$out")
  }

  test("semdedup and fuzzycontaminate drive the semantic-curation paths") {
    val out = script(
      "open embeddings",
      "semdedup embeddings-1 0.45",
      "open documents",
      "filter documents-2 doc_id % 2 = 0",
      "filter documents-2 doc_id % 2 = 1",
      "fuzzycontaminate filter-3 filter-4 0.5",
      "dsir filter-3 filter-4 10",
      "quit")
    // semdedup: kept rows render (id, rep_id, n_members, centroid_sim)
    val semHeader = out.linesIterator.indexWhere(_.startsWith("id\trep_id"))
    assert(semHeader >= 0, s"semdedup must render a kept-set table:\n$out")
    assert(out.linesIterator.drop(semHeader + 1).next().split("\t").length == 4,
      s"no semdedup rows rendered:\n$out")
    // fuzzycontaminate: planted even-odd near-dups → flagged pairs
    val fzHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\teval_id"))
    assert(fzHeader >= 0, s"fuzzycontaminate must render doc_id/eval_id/jacc:\n$out")
    assert(out.linesIterator.drop(fzHeader + 1).next().split("\t").length == 3,
      s"no fuzzy-contamination rows rendered:\n$out")
    // dsir: a 10-row (doc_id, log_weight) page
    val dsHeader = out.linesIterator.indexWhere(_.startsWith("doc_id\tlog_weight"))
    assert(dsHeader >= 0, s"dsir must render doc_id/log_weight:\n$out")
    val dsRows = out.linesIterator.drop(dsHeader + 1).takeWhile(_.contains("\t")).toSeq
    assert(dsRows.size == 10, s"dsir page must hold k rows:\n$out")
  }

  test("pqindex/pqsearch and ivfpqindex/ivfpqsearch drive the ANN deployment cycle") {
    def tmp(leaf: String) = {
      val p = java.nio.file.Files.createTempDirectory(s"graft_repl_$leaf")
      p.toFile.deleteOnExit(); p.toString
    }
    val pqDir = tmp("pq"); val ivfDir = tmp("ivfpq"); val resDir = tmp("ivfpq_res")
    val out = script(
      "open embeddings",
      s"pqindex embeddings-1 $pqDir",
      s"pqsearch embeddings-1 3 5 $pqDir",
      s"ivfpqindex embeddings-1 $ivfDir 8",
      s"ivfpqsearch embeddings-1 3 5 $ivfDir 4",
      s"ivfpqindex embeddings-1 $resDir 8 --residual",
      s"ivfpqsearch embeddings-1 3 5 $resDir 4",
      "quit")
    // the residual build self-describes via the marker; the SAME search
    // verb serves it (auto-detected IVFADC recombination)
    assert(out.contains("residual IVFADC codes"), out)
    assert(new java.io.File(s"$resDir/_RESIDUAL").exists(),
      "--residual must write the marker the serve path auto-detects")
    assert(out.contains(s"pq index (codebooks + codes) at $pqDir"), out)
    assert(new java.io.File(s"$pqDir/codebooks").exists() &&
      new java.io.File(s"$pqDir/codes").exists(),
      "pqindex must persist codebooks + codes")
    // ivfpq codes are Hive-partitioned by coarse bucket — the layout the
    // partition-pruned serve depends on
    assert(new java.io.File(s"$ivfDir/codes").listFiles() != null &&
      new java.io.File(s"$ivfDir/codes").listFiles()
        .exists(_.getName.startsWith("bucket=")),
      "ivfpqindex codes must be bucket-partitioned")
    // both searches render a (q_id, n_id, asim, rk) page of k rows for q_id 3
    val pages = out.linesIterator.zipWithIndex
      .filter(_._1.startsWith("q_id\tn_id\tasim\trk")).map(_._2).toSeq
    assert(pages.size == 3, s"three served pages expected:\n$out")
    val lines = out.linesIterator.toSeq
    pages.foreach { h =>
      val rows = lines.drop(h + 1).takeWhile(_.contains("\t")).take(5)
      assert(rows.size == 5 && rows.forall(_.startsWith("3\t")),
        s"served page must hold k rows for q_id 3:\n$out")
    }
  }

  test("sqindex/sqsearch and bqindex/bqsearch serve the compressed-scan variants") {
    def tmp(leaf: String) = {
      val p = java.nio.file.Files.createTempDirectory(s"graft_repl_$leaf")
      p.toFile.deleteOnExit(); p.toString
    }
    val sqDir = tmp("sq"); val bqDir = tmp("bq")
    val out = script(
      "open embeddings",
      s"sqindex embeddings-1 $sqDir",
      s"sqsearch embeddings-1 3 5 $sqDir",
      s"bqindex embeddings-1 $bqDir",
      s"bqsearch embeddings-1 3 5 $bqDir 8",
      "quit")
    assert(out.contains(s"sq index (uniform grid + 4x-compressed codes) at $sqDir"), out)
    assert(new java.io.File(s"$sqDir/codebooks").exists() &&
      new java.io.File(s"$sqDir/codes").exists(),
      "sqindex must persist the PQ-layout codebooks + codes")
    assert(out.contains(
      s"bq index (sign thresholds + 32x-compressed signatures) at $bqDir"), out)
    assert(new java.io.File(s"$bqDir/thresholds").exists() &&
      new java.io.File(s"$bqDir/codes").exists(),
      "bqindex must persist thresholds + signature codes")
    // sqsearch pages (q_id, n_id, asim, rk); bqsearch re-ranks so (… sim …)
    val lines = out.linesIterator.toSeq
    val sqPages = lines.zipWithIndex
      .filter(_._1.startsWith("q_id\tn_id\tasim\trk")).map(_._2)
    val bqPages = lines.zipWithIndex
      .filter(_._1.startsWith("q_id\tn_id\tsim\trk")).map(_._2)
    assert(sqPages.size == 1 && bqPages.size == 1,
      s"one sq page and one bq page expected:\n$out")
    (sqPages ++ bqPages).foreach { h =>
      val rows = lines.drop(h + 1).takeWhile(_.contains("\t")).take(5)
      assert(rows.size == 5 && rows.forall(_.startsWith("3\t")),
        s"served page must hold k rows for q_id 3:\n$out")
    }
  }

  test("spans, mmr, and trainfilter drive the round-13 curation verbs") {
    val out = script(
      "open documents",
      "spans documents-1 8",
      "spansclean documents-1 8",
      "open embeddings",
      "mmr embeddings-2 3 5 0.7",
      "filter documents-1 lang = 'en'",
      "filter documents-1 lang <> 'en'",
      "trainfilter filter-3 filter-4 documents-1 5 5",
      "bpetrain documents-1 8",
      "bpetokens documents-1 8",
      "quit")
    val lines = out.linesIterator.toSeq
    // spans: stats header + a data row
    val spansHeader = lines.indexWhere(_.startsWith("doc_id\tn_tokens\tn_grams"))
    assert(spansHeader >= 0, s"spans must render the stats table:\n$out")
    assert(lines(spansHeader + 1).split("\t").length == 7, out)
    // spansclean: (doc_id, clean_text, n_kept_tokens)
    assert(lines.exists(_.startsWith("doc_id\tclean_text\tn_kept_tokens")), out)
    // mmr: a 5-row page for query 3 with mmr_score column
    val mmrHeader = lines.indexWhere(_.startsWith("q_id\tn_id\trk\trelevance\tmmr_score"))
    assert(mmrHeader >= 0, s"mmr must render its page:\n$out")
    val mmrRows = lines.drop(mmrHeader + 1).takeWhile(_.contains("\t")).take(5)
    assert(mmrRows.size == 5 && mmrRows.forall(_.startsWith("3\t")), out)
    // trainfilter: (doc_id, score) page of 5
    val tfHeader = lines.indexWhere(_.startsWith("doc_id\tscore"))
    assert(tfHeader >= 0, s"trainfilter must render scores:\n$out")
    val tfRows = lines.drop(tfHeader + 1).take(5)
    assert(tfRows.size == 5 && tfRows.forall(_.split("\t").length == 2), out)
    // bpetrain: 8 (rank, left, right) merge rows; bpetokens: per-doc counts
    val bpeHeader = lines.indexWhere(_.startsWith("rank\tleft\tright"))
    assert(bpeHeader >= 0, s"bpetrain must render the merge table:\n$out")
    val mergeRows = lines.drop(bpeHeader + 1).take(8)
    assert(mergeRows.forall(_.split("\t").length == 3), out)
    assert(lines.exists(_.startsWith("doc_id\tn_bpe")), out)
  }

  test("spanstats and kllq drive the round-14 accounting verbs") {
    val out = script(
      "open documents",
      "filter documents-1 doc_id % 10 = 0",
      "filter documents-1 doc_id % 10 <> 0",
      "spanstats filter-2 filter-3 8",
      "open events",
      "kllq events-4 value event_type",
      "kllq events-4 value event_type user_id",
      "quit")
    val lines = out.linesIterator.toSeq
    // spanstats: ONE totals row with the 6 accounting columns
    val ssHeader = lines.indexWhere(
      _.startsWith("n_docs\tn_contaminated\tn_grams\tn_hit_grams"))
    assert(ssHeader >= 0, s"spanstats must render the accounting row:\n$out")
    val ssRow = lines(ssHeader + 1).split("\t")
    assert(ssRow.length == 6 && ssRow(0).toLong > 0, out)
    // kllq: one row per event_type with p50/p95, in BOTH the direct and
    // the rollup-by-merge form (the merged sketches answer the same
    // grid — values may differ within rank error, shape must not)
    val kllHeaders = lines.zipWithIndex.collect {
      case (l, i) if l.startsWith("event_type\tp50\tp95") => i
    }
    assert(kllHeaders.size == 2, s"kllq must render twice:\n$out")
    for (h <- kllHeaders) {
      val rows = lines.drop(h + 1).takeWhile(_.contains("\t"))
      assert(rows.nonEmpty && rows.forall(_.split("\t").length == 3), out)
    }
  }

  test("split and balance register curation child views; bare 'explain sql' hints usage") {
    val out = script(
      "open documents",
      "split documents-1 0.5",
      "project split-2 doc_id,split",
      "open embeddings",
      "balance embeddings-4 4 8",
      "open orders",
      "ntile orders-6 o_orderpriority o_totalprice o_orderkey 4",
      "summary ntile-7 tile",
      "explain sql",
      "quit")
    // split: a composable child view carrying the split column
    assert(out.contains("view split-2"), s"split must register a child view:\n$out")
    assert(out.contains("view project-3"), out)
    // balance: the rebalanced corpus as a child view
    assert(out.contains("view balance-5"), s"balance must register a child view:\n$out")
    // ntile: a composable cohort view whose tile column summarizes 1..4
    assert(out.contains("view ntile-7"), s"ntile must register a child view:\n$out")
    // bare `explain sql` gets a usage hint, not a view-lookup error
    assert(out.contains("usage: explain sql <query>"), out)
    // multi-key cohorts: comma-joined group columns reach ntileMapSide's
    // Seq[String] signature — tile must partition within each
    // (priority, status) pair, so every such group holds tiles 1..k'
    val mk = script(
      "open orders",
      "ntile orders-1 o_orderpriority,o_orderstatus o_totalprice o_orderkey 3",
      "summary ntile-2 tile",
      "quit")
    assert(mk.contains("view ntile-2"), s"multi-key ntile must register:\n$mk")
    // and the split view really is leakage-safe-shaped: evaluate it
    val sess = new ViewSession(spark)
    val vid = sess.open("documents",
      graft.sources.Tables.open(spark, sf, "documents"))
    val resp = Repl.eval(spark, sess, sf, s"split ${vid.value} 0.5")
    val splitId = resp.stripPrefix("view ")
    val splits = sess(ViewId(splitId)).df.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
  }
}
