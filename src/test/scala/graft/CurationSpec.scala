package graft

import graft.text.Curation
import org.apache.spark.sql.functions._

/** Dataset-curation operators: deterministic split assignment and
  * per-language quality top-k (two-phase bucketed ranking).
  */
class CurationSpec extends SparkSpec {

  private def docsDF(n: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val langWords = Seq(
      Seq("the", "a", "of", "and", "is", "cat", "sat", "mat"),
      Seq("el", "la", "los", "de", "y", "gato", "casa"),
      Seq("der", "die", "das", "und", "ist", "hund"),
      Seq("le", "la", "les", "et", "est", "chat"))
    (0 until n).map { i =>
      val words = langWords(rnd.nextInt(langWords.size))
      val len = 3 + rnd.nextInt(40)
      val text = Seq.fill(len)(words(rnd.nextInt(words.size)))
        .mkString(" ") + (if (rnd.nextBoolean()) "." else "")
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  test("assignSplits: exactly one label per row, label matches bucket, " +
      "buckets in [0,100)") {
    val out = Curation.assignSplits(docsDF(2000)).collect()
    assert(out.length == 2000)
    out.foreach { r =>
      val bucket = r.getLong(1)
      val split = r.getString(2)
      assert(bucket >= 0 && bucket < 100, s"bucket out of range: $bucket")
      val expected =
        if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
      assert(split == expected, s"doc ${r.getLong(0)}: $split != $expected")
    }
  }

  test("assignSplits: deterministic across invocations and roughly " +
      "proportional") {
    val df = docsDF(2000)
    val a = Curation.assignSplits(df).collect().map(r =>
      (r.getLong(0), r.getString(2))).toMap
    val b = Curation.assignSplits(df).collect().map(r =>
      (r.getLong(0), r.getString(2))).toMap
    assert(a == b)
    val train = a.values.count(_ == "train").toDouble / a.size
    val v = a.values.count(_ == "val").toDouble / a.size
    assert(train > 0.7 && train < 0.9, s"train fraction $train")
    assert(v > 0.05 && v < 0.15, s"val fraction $v")
  }

  test("assignSplits: custom percentages partition the id space") {
    val out = Curation.assignSplits(docsDF(500), trainPct = 50, valPct = 25)
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.values.sum == 500)
    assert(out.keySet == Set("train", "val", "test"))
    intercept[IllegalArgumentException] {
      Curation.assignSplits(docsDF(1), trainPct = 90, valPct = 20)
    }
  }

  test("topKByQuality: bucketed two-phase ranking equals the " +
      "single-window form exactly") {
    val df = docsDF(600)
    val plain = Curation.topKByQuality(df, 7, fanout = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val bucketed = Curation.topKByQuality(df, 7, fanout = 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(bucketed == plain)
  }

  test("topKByQuality: matches a driver-side brute force with the " +
      "(quality desc, doc_id asc) total order") {
    val df = docsDF(400)
    val k = 5
    val scored = df.select(
      col("doc_id"),
      graft.text.TextAnalysis.langId(col("text")).as("lang"),
      graft.text.TextAnalysis.qualityScore(col("text")).as("quality"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = scored.toSeq.groupBy(_._2).flatMap { case (lang, rows) =>
      rows.sortBy { case (id, _, q) => (-q, id) }.take(k).zipWithIndex
        .map { case ((id, _, q), i) => (id, lang, q, (i + 1).toLong) }
    }.toSet
    val got = Curation.topKByQuality(df, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("topKByQuality: per-language counts bounded by k, ranks contiguous") {
    val out = Curation.topKByQuality(docsDF(300), 4).collect()
      .map(r => (r.getString(1), r.getLong(3)))
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val ranks = rows.map(_._2).sorted
      assert(ranks.length <= 4, s"$lang: ${ranks.length} rows")
      assert(ranks.sameElements(1L to ranks.length),
        s"$lang ranks not contiguous: ${ranks.mkString(",")}")
    }
  }

  test("decontaminate: shared-shingle docs flagged, disjoint docs kept " +
      "with zero hits, benchmark slice excluded") {
    val s = spark
    import s.implicits._
    // bench slice = doc_id % 10 == 7. Doc 7 is benchmark; doc 1 shares its
    // full 3-shingle 'alpha beta gamma'; doc 2 shares none; doc 3 shares
    // two distinct shingles of doc 17's 4-token text.
    val df = Seq(
      (7L, "alpha beta gamma"),
      (17L, "one two three four"),
      (1L, "alpha beta gamma delta"),
      (2L, "totally different words here"),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val out = Curation.decontaminate(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "benchmark docs must be excluded")
    assert(out(1L) == ((1L, 1L)))
    assert(out(2L) == ((0L, 0L)))
    // doc 3 shares 'one two three' and 'two three four'
    assert(out(3L) == ((2L, 1L)))
  }

  test("decontaminate: broadcast and shuffled join modes agree exactly") {
    val df = docsDF(400)
    val fmt = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val bc = Curation.decontaminate(df).collect().map(fmt).toSet
    val sj = Curation.decontaminate(df, broadcastBench = false)
      .collect().map(fmt).toSet
    assert(bc == sj)
    assert(bc.nonEmpty)
    intercept[IllegalArgumentException] {
      Curation.decontaminate(df, benchMod = 5, benchRem = 5)
    }
  }

  test("mixtureWeights: weight = target_share / observed_share; absent " +
      "languages weigh zero; per-language mass hits the target") {
    val df = docsDF(500)
    val targets = Map("en" -> 0.6, "de" -> 0.4)
    val out = Curation.mixtureWeights(df, targets).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.length == 500, "one weight per document")
    val byLang = out.groupBy(_._2)
    // every doc of one language carries the same weight
    byLang.foreach { case (lang, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"$lang weights differ")
    }
    // languages absent from targets -> 0
    byLang.keySet.diff(targets.keySet).foreach { lang =>
      assert(byLang(lang).head._3 == 0.0, s"$lang should weigh 0")
    }
    // sum of weights within a targeted language = target_share * total
    targets.foreach { case (lang, share) =>
      byLang.get(lang).foreach { rows =>
        val mass = rows.map(_._3).sum
        assert(math.abs(mass - share * 500) < 1e-2,
          s"$lang mass $mass != ${share * 500}")
      }
    }
    intercept[IllegalArgumentException] {
      Curation.mixtureWeights(df, Map.empty[String, Double])
    }
  }

  test("resampleByWeight: copies bracket the weight, realized counts " +
      "match the floor+hash-fraction rule, untargeted languages dropped") {
    val df = docsDF(500)
    val targets = Map("en" -> 0.7, "de" -> 0.3)
    val weights = Curation.mixtureWeights(df, targets).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val out = Curation.resampleByWeight(df, targets).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val copies = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    weights.foreach { case (id, lang, w) =>
      val got = copies.getOrElse(id, Array.empty[Long])
      if (w == 0.0) assert(got.isEmpty, s"doc $id ($lang) should be dropped")
      else {
        // per-doc copy count is floor(w) or floor(w)+1 ...
        assert(got.length >= math.floor(w).toLong &&
          got.length <= math.floor(w).toLong + 1,
          s"doc $id: ${got.length} copies for weight $w")
        // ... with contiguous copy indices 1..copies
        assert(got.sameElements(1L to got.length))
      }
    }
    // realized total per language tracks weight mass (hash uniformity):
    // sum(copies) vs sum(weights) within the language
    targets.keySet.foreach { lang =>
      val mass = weights.filter(_._2 == lang).map(_._3).sum
      val realized = out.count(_._2 == lang)
      assert(math.abs(realized - mass) <= math.max(10.0, 0.1 * mass),
        s"$lang realized $realized vs mass $mass")
    }
    // determinism: a second run is identical
    val again = Curation.resampleByWeight(df, targets).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sorted.sameElements(again.sorted))
  }

  test("packSequences sizes a checkpointed input from its row count, " +
      "not the partition cap") {
    val docs = docsDF(800)
    val cp = org.apache.spark.sql.graft.StatsReset.checkpointNoStats(docs)
    assert(graft.util.Parallelism.statsLess(cp))
    withConf("spark.sql.shuffle.partitions", "32") {
      // 800 rows is far below one 32 MB partition: the floor, not the cap
      assert(Curation.packPartitions(cp) ==
        graft.graph.LinkGraph.AdaptiveMinParts)
      val bins = (df: org.apache.spark.sql.DataFrame) =>
        Curation.packSequences(df, 128L).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(bins(cp) == bins(docs))
    }
  }

  test("packSequences: bins match a driver-side cumsum, are " +
      "partitioning-independent, and overflow only by the straddling doc") {
    val df = docsDF(800)
    val budget = 128L
    // driver-side brute force: doc_id order, exclusive cumsum, floor div
    val sizes = df.select(col("doc_id"),
      graft.text.TextAnalysis.tokenCount(col("text")).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val expected = sizes.map { case (id, n) =>
      val bin = cum / budget; cum += n; (id, n, bin)
    }.toSet
    Seq(1, 4, 32).foreach { p =>
      val got = Curation.packSequences(df, budget, numPartitions = p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == expected, s"numPartitions=$p diverges")
    }
    // bin totals: every bin holds <= budget + its straddling doc's size
    val byBin = expected.groupBy(_._3)
    byBin.foreach { case (bin, rows) =>
      val total = rows.toSeq.map(_._2).sum
      val maxDoc = rows.toSeq.map(_._2).max
      assert(total <= budget + maxDoc, s"bin $bin total $total")
    }
    // bins are contiguous from 0 (non-empty corpus, positive sizes)
    assert(byBin.keySet == (0L until byBin.keySet.max + 1).toSet)
    intercept[IllegalArgumentException] {
      Curation.packSequences(df, budget = 0)
    }
  }
}
