package graft

import org.apache.spark.sql.functions._
import graft.streaming.DocStreams

/** Streaming MinHash near-dup filter: earlier docs suppress
  * later-arriving near-duplicates across micro-batches; unique and
  * sub-shingle docs survive.
  */
class DocStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("per-row signature kernel == aggregate signatures (XxHasher), bit-exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val agg = graft.ext.Dedup.minhashSignatures(
        graft.ext.Dedup.shingleStream(docs, "doc_id", "text", 3),
        "doc_id", 16, graft.ext.Dedup.XxHasher)
      .select($"doc_id", $"sig").as[(Long, Seq[Long])].collect().toMap
    val perRow = graft.ext.Dedup.minhashSigPerRow(docs, "doc_id", "text", 3, 16)
      .select($"doc_id", $"sig").as[(Long, Seq[Long])].collect().toMap
    assert(perRow.size === agg.size)
    assert(perRow === agg)
    // and the per-row plan has no shuffle at all
    val plan = graft.ext.Dedup.minhashSigPerRow(docs, "doc_id", "text", 3, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("curation gate: quality/lang gates, PII scrub, content dedup; stream == batch") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "text").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)

    val mail = "please contact the team at bob@corp.example and check that the new spark build is ready to ship today"
    val phone = "call the office at +1 555-010-9999 before the meeting because it was moved to the morning"
    val german = "der hund und die katze ist nicht mit dem ball zu spielen"
    write(Seq(
      (1L, 1 * min, mail),          // kept, email redacted
      (2L, 2 * min, "zz1 zz2 !!!"), // low quality -> dropped
      (3L, 3 * min, ""),            // no tokens -> dropped
      (4L, 4 * min, "hello there"), // short (fallback fingerprint), kept
      (8L, 5 * min, german)))       // lang 'de', kept when langs=Nil
    write(Seq(
      (5L, 6 * min, mail),          // exact content dup of 1 -> dropped
      (6L, 7 * min, "hello there"), // dup of 4 via fallback hash -> dropped
      (7L, 8 * min, phone)))        // kept, phone redacted

    val q = DocStreams.curationGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        minQuality = 0.3, horizon = "30 minutes")
      .writeStream.format("memory").queryName("gate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min,
        "sentinel flush document with enough good english words that the gate keeps it")))
      q.processAllAvailable()
      spark.table("gate").filter($"doc_id" < 100)
        .select($"text_redacted", $"n_pii", $"lang_id")
        .as[(String, Int, String)].collect().toSet
    } finally q.stop()

    // streaming keeps first arrivals; batch dropDuplicates picks an
    // arbitrary content-identical winner — compare CONTENT, not ids
    val batch = DocStreams.curationGate(
        spark.read.schema(sch).parquet(dir), minQuality = 0.3)
      .filter($"doc_id" < 100)
      .select($"text_redacted", $"n_pii", $"lang_id")
      .as[(String, Int, String)].collect().toSet
    assert(streamed === batch)
    assert(streamed.size === 4, s"$streamed")
    assert(streamed.exists(r => r._1.contains("<EMAIL>") && r._2 === 1))
    assert(streamed.exists(r => r._1.contains("<PHONE>") && r._2 === 1))
    assert(streamed.exists(_._3 === "de"))
    // lang gate: restricting to en drops the german doc and the
    // stopword-free short doc ('und' lang id)
    val enOnly = DocStreams.curationGate(
        spark.read.schema(sch).parquet(dir), minQuality = 0.3,
        langs = Seq("en"))
      .filter($"doc_id" < 100)
      .select($"lang_id").as[String].collect().toSet
    assert(enOnly === Set("en"))
  }

  test("curation gate over a JSONL file source (DocSource schema): stream == batch, corrupt line quarantined") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("gatejsonl").toString
    val min = 60L * 1000000000L
    var part = 0
    def writeJsonl(lines: Seq[String]): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"part-$part.jsonl"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      part += 1
    }
    def doc(id: Long, m: Long, text: String): String =
      s"""{"doc_id":$id,"ts":${m * min},"text":"$text"}"""

    val good = "the quick brown fox jumps over the lazy dog and then it runs away to the river"
    writeJsonl(Seq(
      doc(1L, 1, good),
      """{not json at all""",                       // quarantined, not fatal
      doc(2L, 2, "zz1 zz2 !!!")))                   // low quality -> gated
    writeJsonl(Seq(
      doc(3L, 3, good),                             // exact dup of 1 -> gated
      doc(4L, 4, "a different sentence where the words are good and the gate should keep it here")))

    // the interchange-format path: DocSource streaming reader →
    // quarantine filter → the SAME gate the memory-stream tests use
    val raw = graft.io.DocSource.readJsonlStream(
      spark, dir, sch, maxFilesPerTrigger = Some(1))
    val clean = raw.filter(col(graft.io.DocSource.CorruptCol).isNull)
      .drop(graft.io.DocSource.CorruptCol)
    val q = DocStreams.curationGate(clean, minQuality = 0.3, horizon = "30 minutes")
      .writeStream.format("memory").queryName("gate_jsonl")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("gate_jsonl")
        .select($"doc_id", $"text_redacted", $"lang_id")
        .as[(Long, String, String)].collect().toSet
    } finally q.stop()

    val batchClean = graft.io.DocSource.cleanWithReport(
      graft.io.DocSource.readJsonl(spark, dir, sch))
    assert(batchClean._2 === 5 && batchClean._3 === 1) // 5 lines, 1 corrupt
    val batch = DocStreams.curationGate(batchClean._1, minQuality = 0.3)
      .select($"doc_id", $"text_redacted", $"lang_id")
      .as[(Long, String, String)].collect().toSet
    // streaming keeps the FIRST content arrival (doc 1); batch picks an
    // arbitrary content-identical winner — compare content sets
    assert(streamed.map(r => (r._2, r._3)) === batch.map(r => (r._2, r._3)))
    assert(streamed.size === 2, s"$streamed")
    assert(streamed.map(_._1) === Set(1L, 4L)) // first arrivals, gates applied
  }

  test("streaming near-dup filter: exact/near dups dropped across batches, unique+short kept") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("docstream").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "text").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)

    val base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    // batch 1: two distinct docs + TWO short docs (no 3-shingle) — both
    // must survive (regression: a coalesce over xxhash64-of-nulls sent
    // every short doc to ONE shared bucket and dropped all but the first)
    write(Seq(
      (1L, 1 * min, base),
      (2L, 2 * min, "completely different content about spark catalyst optimizer internals and codegen"),
      (3L, 3 * min, "too short"),
      (7L, 3 * min, "also short")))
    // batch 2: exact dup of 1 (all bands collide -> dropped), near dup
    // of 2 (one word changed -> shares bands -> dropped), fresh doc kept
    write(Seq(
      (4L, 4 * min, base),
      (5L, 5 * min, "completely different content about spark catalyst optimizer internals and codegen today"),
      (6L, 6 * min, "yet another entirely unrelated document mentioning oceans and hurricanes and grids")))

    val q = DocStreams.nearDupFilter(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        n = 3, k = 16, b = 8, horizon = "30 minutes")
      .writeStream.format("memory").queryName("ndf")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min, "sentinel flush document with enough words to shingle properly")))
      q.processAllAvailable()
      val kept = spark.table("ndf").filter($"doc_id" < 100)
        .select($"doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 2L, 3L, 7L, 6L), s"kept=$kept")
    } finally q.stop()
  }

  test("streaming ANN enrich == batch annTopK k=1 on the same vectors") {
    import org.apache.spark.sql.types._
    val dim = 16
    val rnd = new scala.util.Random(11)
    def unit(): Seq[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm).toSeq
    }
    // ids 30 and 35 carry the IDENTICAL vector: any query near it ties
    // EXACTLY on cosine, and both engines must break to the LOWER id
    val base = (0 until 40).map(i => (i.toLong, unit()))
    val corpusRows = base.map { case (i, v) => if (i == 35L) (i, base(30)._2) else (i, v) }
    val corpus = corpusRows.toDF("vec_id", "v")
    val planes = graft.ext.SimJoin.planes(8, dim)
    // stream docs = jittered copies of corpus vectors 5, 17, 23 + an
    // EXACT copy of the duplicated vector (forces the cosine tie)
    val min = 60L * 1000000000L
    val streamRows = Seq(5, 17, 23).zipWithIndex.map { case (ci, i) =>
      (100L + i, (i + 1) * min,
        corpusRows(ci)._2.map(x => x + rnd.nextGaussian() * 0.01))
    } :+ ((103L, 4 * min, corpusRows(30)._2))
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("vec", ArrayType(DoubleType))))
    val dir = java.nio.file.Files.createTempDirectory("annenrich").toString
    spark.createDataFrame(streamRows.toDF("doc_id", "ts", "vec").rdd, sch)
      .coalesce(1).write.mode("append").parquet(dir)

    // batch ground truth through the SAME bucket parameters
    val queries = streamRows.map(r => (r._1, r._3)).toDF("vec_id", "v")
    val expected = graft.ext.SimJoin
      .annTopK(corpus, queries, "vec_id", "v", k = 1, planes, b = 2)
      .select($"q_id", $"vec_id", round($"cos_sim", 9)).as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val q = graft.streaming.DocStreams.annEnrich(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        corpus, "vec_id", "v", planes, b = 2)
      .writeStream.format("memory").queryName("annen")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.createDataFrame(
          Seq((999L, 600 * min, unit())).toDF("doc_id", "ts", "vec").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("annen").filter($"doc_id" < 999)
        .select($"doc_id", $"nn_id", round($"cos_sim", 9))
        .as[(Long, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === expected)
      // and the jittered copies found their sources
      assert(got(100L)._1 === 5L && got(101L)._1 === 17L && got(102L)._1 === 23L)
      // the exact tie (corpus 30 == corpus 35) broke to the LOWER id
      assert(got(103L)._1 === 30L, s"tie must break low, got ${got(103L)}")
    } finally q.stop()
  }

  test("streaming quantized ANN enrich == batch ivfTopKQuantized k=1") {
    import org.apache.spark.sql.types._
    val dim = 16
    val rnd = new scala.util.Random(23)
    def unit(): Seq[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm).toSeq
    }
    val corpusRows = (0 until 40).map(i => (i.toLong, unit()))
    val corpus = corpusRows.toDF("vec_id", "v")
    val cents = graft.ext.SimJoin.ivfCentroids(corpus, "vec_id", "v", k = 4, iters = 2)
    val qCorpus = graft.ext.SimJoin.quantizedCorpus(corpus, "vec_id", "v", cents)
    val min = 60L * 1000000000L
    // disjoint id space: neither side's self-id exclusion fires, so
    // the comparison covers the pure scoring path
    val streamRows = Seq(3, 11, 29).zipWithIndex.map { case (ci, i) =>
      (1000L + i, (i + 1) * min,
        corpusRows(ci)._2.map(x => x + rnd.nextGaussian() * 0.01))
    }
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("vec", ArrayType(DoubleType))))
    val dir = java.nio.file.Files.createTempDirectory("annq8").toString
    spark.createDataFrame(streamRows.toDF("doc_id", "ts", "vec").rdd, sch)
      .coalesce(1).write.mode("append").parquet(dir)

    val queries = streamRows.map(r => (r._1, r._3)).toDF("vec_id", "v")
    val expected = graft.ext.SimJoin
      .ivfTopKQuantized(qCorpus, queries, "vec_id", "v", k = 1, cents, nProbe = 2)
      .select($"q_id", $"vec_id", round($"cos_sim", 9)).as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val q = graft.streaming.DocStreams.annEnrichQuantized(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        qCorpus, "vec_id", cents, nProbe = 2)
      .writeStream.format("memory").queryName("annq8")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.createDataFrame(
          Seq((9999L, 600 * min, unit())).toDF("doc_id", "ts", "vec").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("annq8").filter($"doc_id" < 9999)
        .select($"doc_id", $"nn_id", round($"cos_sim", 9))
        .as[(Long, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === expected, "stream must equal the batch quantized path")
      // jittered copies found their int8-stored sources
      assert(got(1000L)._1 === 3L && got(1001L)._1 === 11L && got(1002L)._1 === 29L)
    } finally q.stop()
  }

  test("horizon expiry: a dup arriving after the horizon is kept again") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("docstream2").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "text").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    val base = "deduplicate me across the stream with minhash banding and a watermark horizon"
    write(Seq((1L, 1 * min, base)))
    // 10 min horizon: doc 2 at +5min is suppressed; doc 50 (unique, at
    // 60min) advances the watermark past 1min+10min so the bucket
    // state evicts (the watermark lags one micro-batch — without an
    // intervening batch the state would still be alive); doc 3 at
    // 120min then re-occupies the expired bucket -> kept
    write(Seq((2L, 6 * min, base)))
    write(Seq((50L, 60 * min, "an unrelated watermark advancing document with plenty of words inside")))
    // state cleanup runs POST-batch: batch(50) advances the watermark,
    // batch(51) then evicts the expired bucket, batch(3) re-occupies it
    write(Seq((51L, 70 * min, "a second filler document so the eviction pass actually runs before doc three")))
    write(Seq((3L, 120 * min, base)))
    val q = DocStreams.nearDupFilter(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        n = 3, k = 16, b = 8, horizon = "10 minutes")
      .writeStream.format("memory").queryName("ndf2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      write(Seq((100L, 1200 * min, "sentinel flush document with enough words to shingle properly")))
      q.processAllAvailable()
      val kept = spark.table("ndf2").filter($"doc_id" < 100)
        .select($"doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 50L, 51L, 3L), s"kept=$kept")
    } finally q.stop()
  }

  test("streaming shared-span filter: verbatim-run dups dropped across batches") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("spanstream").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "text").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)

    val run = "alpha beta gamma delta epsilon zeta eta theta iota"  // 9 >= k+w-1
    write(Seq(
      (1L, 1 * min, s"intro words here $run closing remark now"),
      (2L, 2 * min, "completely different content with no overlap at all here today"),
      (3L, 3 * min, "tiny doc")))                    // < k tokens: singleton bucket
    write(Seq(
      (4L, 4 * min, s"other framing text $run different ending words"), // shares the run -> drop
      (5L, 5 * min, "tiny doc"),                     // short: always kept
      (6L, 6 * min, "fresh unrelated sentence with plenty of distinct novel tokens")))

    val q = DocStreams.sharedSpanFilter(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        k = 5, w = 4, horizon = "30 minutes")
      .writeStream.format("memory").queryName("spanf")
      .outputMode("append").start()
    val kept = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min,
        "sentinel flush document with enough distinct words to fingerprint")))
      q.processAllAvailable()
      spark.table("spanf").filter($"doc_id" < 100)
        .select($"doc_id").as[Long].collect().toSet
    } finally q.stop()
    assert(kept === Set(1L, 2L, 3L, 5L, 6L), s"kept=$kept")
  }

  test("streaming perplexity gate: stream == batch, in-domain kept, garbled dropped") {
    import org.apache.spark.sql.types._
    import graft.ext.LangModel
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("pplgate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "text").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)

    // model trained OFFLINE on the real corpus (the deployment shape)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (model, total, vocab) =
      LangModel.collectModel(LangModel.unigramCounts(corpus, "text"))
    // threshold between in-domain tokens and out-of-vocab garble
    val domainTok = corpus.select(explode(split($"text", " ")).as("t"))
      .filter($"t" =!= "").groupBy($"t").count()
      .orderBy($"count".desc).head.getString(0)
    val inDomain = Seq.fill(8)(domainTok).mkString(" ")
    val garbled = "qxzv wvvq zzzk jjqx qqqq xkcd vvvv kkkk"
    val maxPpl = vocab.toDouble // unseen-token ppl ~= (T+V) >> V >= seen
    write(Seq((1L, 1 * min, inDomain), (2L, 2 * min, garbled), (3L, 3 * min, "")))
    write(Seq((4L, 4 * min, s"$inDomain $inDomain")))

    val q = DocStreams.perplexityGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        model, total, vocab, maxPpl)
      .writeStream.format("memory").queryName("pplgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("pplgate").select($"doc_id", $"ppl").as[(Long, Double)]
        .collect().toMap
    } finally q.stop()
    val batch = DocStreams.perplexityGate(
        spark.read.schema(sch).parquet(dir), model, total, vocab, maxPpl)
      .select($"doc_id", $"ppl").as[(Long, Double)].collect().toMap
    assert(streamed === batch, "stateless gate must be plan-identical")
    assert(streamed.keySet === Set(1L, 4L), s"kept=${streamed.keySet}")
    assert(streamed.values.forall(_ <= maxPpl))
  }

  test("streaming language gate: stream == batch, off-language dropped, stateless") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("langgate").toString
    val min = 60L * 1000000000L
    spark.createDataFrame(Seq(
        (1L, 1 * min, "the people and the water of the house and the time"),
        (2L, 2 * min, "der kleine und die leute mit der zeit und der welt"),
        (3L, 3 * min, "les gens est une grande maison des mots les temps"),
        (4L, 4 * min, "los tiempos las aguas para la gente como antes"))
        .toDF("doc_id", "ts", "text").rdd, sch)
      .coalesce(1).write.mode("append").parquet(dir)

    val q = DocStreams.langGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        keep = Seq("en", "de"))
      .writeStream.format("memory").queryName("langgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("langgate").select($"doc_id", $"lang_pred").as[(Long, String)]
        .collect().toMap
    } finally q.stop()
    val batch = DocStreams.langGate(
        spark.read.schema(sch).parquet(dir), keep = Seq("en", "de"))
      .select($"doc_id", $"lang_pred").as[(Long, String)].collect().toMap
    assert(streamed === batch, "stateless gate must be plan-identical")
    assert(streamed === Map(1L -> "en", 2L -> "de"), s"kept=$streamed")
  }

  test("streaming manifest gate: HLS master + media + DASH in one stream, stream == batch") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("manifestgate").toString
    val min = 60L * 1000000000L
    // ids picked so the fixture family yields a master (even id), a
    // media playlist (odd id), and a DASH MPD, plus junk that must drop
    spark.createDataFrame(Seq(
        (10L, 1 * min, graft.ext.ManifestFixtures.m3u8(10L)),
        (11L, 2 * min, graft.ext.ManifestFixtures.m3u8(11L)),
        (12L, 3 * min, graft.ext.ManifestFixtures.mpd(12L)),
        (13L, 4 * min, "<html>not a manifest</html>"))
        .toDF("doc_id", "ts", "text").rdd, sch)
      .coalesce(1).write.mode("append").parquet(dir)

    val q = DocStreams.manifestGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir))
      .writeStream.format("memory").queryName("manifestgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("manifestgate")
        .select($"doc_id", $"kind", $"uri", $"bandwidth")
        .as[(Long, String, String, Option[Long])].collect().toSet
    } finally q.stop()
    val batch = DocStreams.manifestGate(spark.read.schema(sch).parquet(dir))
      .select($"doc_id", $"kind", $"uri", $"bandwidth")
      .as[(Long, String, String, Option[Long])].collect().toSet
    assert(streamed === batch, "stateless manifest gate must be plan-identical")
    assert(streamed.count(_._2 == "variant") > 0, s"no variants: $streamed")
    assert(streamed.count(_._2 == "segment") > 0, "no segments")
    assert(streamed.count(_._2 == "representation") > 0, "no representations")
    assert(!streamed.exists(_._1 == 13L), "junk doc must contribute no rows")
    // the parsed attributes match the fixtures' closed forms
    assert(streamed.filter(_._1 == 10L).forall(_._4.exists(_ >= 200000L)))
  }

  test("streaming quality-model gate: stream == batch, junk dropped, token-less dropped") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("qmgate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "text").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)

    // weights as a TRAINED model would carry them (intercept, token
    // budget, stopword, alpha positive; punct negative) — literal
    // model state, the deployment shape of QualityModel.train output
    val w = Seq(-2.0, 2.0, 2.0, 2.0, -2.0, 1.0)
    val good = "the cat sat on the mat and it was good that it sat"
    val junk = "!!! ### $$$ %%%"
    write(Seq((1L, 1 * min, good), (2L, 2 * min, junk), (3L, 3 * min, "")))
    write(Seq((4L, 4 * min, s"$good $good")))

    val q = DocStreams.qualityModelGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        w, minScore = 0.5)
      .writeStream.format("memory").queryName("qmgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("qmgate").select($"doc_id", $"q_score").as[(Long, Double)]
        .collect().toMap
    } finally q.stop()
    val batchGate = DocStreams.qualityModelGate(
        spark.read.schema(sch).parquet(dir), w, minScore = 0.5)
      .select($"doc_id", $"q_score").as[(Long, Double)].collect().toMap
    assert(streamed === batchGate, "stateless gate must be plan-identical")
    assert(streamed.keySet === Set(1L, 4L), s"kept=${streamed.keySet}")
    // decision-identical to the BATCH library operator on the same rows
    val viaBatchOp = graft.ext.QualityModel.filterByQuality(
        spark.read.schema(sch).parquet(dir), "doc_id", "text", w, 0.5)
      .select($"doc_id", $"q_score").as[(Long, Double)].collect().toMap
    assert(streamed === viaBatchOp)
  }

  test("streaming semantic gate: stream == batch, near-centroid dropped, zero-norm kept") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    val dir = java.nio.file.Files.createTempDirectory("semgate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, Seq[Double])]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "embedding").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)

    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    write(Seq(
      (1L, 1 * min, Seq(0.99, 0.05, 0.0)),  // cos≈0.999 to c0 -> drop
      (2L, 2 * min, Seq(0.5, 0.5, 0.7)),    // cos≈0.5 -> keep
      (3L, 3 * min, Seq(0.0, 0.0, 0.0))))   // zero-norm: kept, null cos
    write(Seq(
      (4L, 4 * min, Seq(0.0, 1.0, 0.01)),   // ~c1 -> drop
      (5L, 5 * min, Seq(0.1, 0.1, 0.99))))  // orthogonal-ish -> keep

    val q = DocStreams.semanticGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        centroids, maxCos = 0.9)
      .writeStream.format("memory").queryName("semgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("semgate")
        .select($"doc_id", $"cluster", $"cos").collect()
        .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet
    } finally q.stop()
    val batch = DocStreams.semanticGate(
        spark.read.schema(sch).parquet(dir), centroids, maxCos = 0.9)
      .select($"doc_id", $"cluster", $"cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet
    assert(streamed === batch, "stateless gate must be plan-identical")
    assert(streamed.map(_._1) === Set(2L, 3L, 5L), s"kept=$streamed")
    // zero-norm row: assigned cluster 0 (lowest-id tie), null cosine
    assert(streamed.exists(t => t._1 == 3L && t._2 == 0 && t._3.isEmpty))
    // the batch assignment agrees with the q103 kernel's cluster ids
    val viaAssign = spark.read.schema(sch).parquet(dir)
      .select($"doc_id",
        graft.ext.SimJoin.assignNearestCos($"embedding", centroids).as("c"))
      .as[(Long, Int)].collect().toMap
    batch.foreach { case (id, cl, _) => assert(viaAssign(id) === cl, s"doc $id") }
  }

  test("streaming substring-contamination gate: stream == batch, verbatim quote dropped") {
    import org.apache.spark.sql.types._
    import graft.ext.SpanDedup
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("cwgate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "text").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)

    // reference = a benchmark doc; its window set collected OFFLINE
    val L = 20
    val benchText = "the secret benchmark answer sequence nobody should train on ever"
    val ref = Seq((0L, benchText)).toDF("doc_id", "text")
    val refSet = spark.sparkContext.broadcast(
      SpanDedup.collectWindowSet(ref, "text", L))

    val clean = "a perfectly ordinary training document with fresh content here"
    val quoting = "prefix words then " + benchText + " and a suffix"
    val short = "tiny"
    write(Seq((1L, 1 * min, clean), (2L, 2 * min, quoting), (3L, 3 * min, short)))
    write(Seq((4L, 4 * min, clean + " second arrival")))

    val q = DocStreams.substringContaminationGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        refSet, L, maxHitFrac = 0.2)
      .writeStream.format("memory").queryName("cwgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("cwgate").select($"doc_id", $"ref_hits").as[(Long, Long)]
        .collect().toMap
    } finally q.stop()
    val batch = DocStreams.substringContaminationGate(
        spark.read.schema(sch).parquet(dir), refSet, L, maxHitFrac = 0.2)
      .select($"doc_id", $"ref_hits").as[(Long, Long)].collect().toMap
    assert(streamed === batch, "stateless gate must be plan-identical")
    // quoting doc dropped; clean docs and the window-less doc pass
    assert(streamed.keySet === Set(1L, 3L, 4L), s"kept=${streamed.keySet}")
    assert(streamed(3L) === 0L) // no window -> zero evidence, kept
    // batch stats twin agrees on the contaminated doc
    val stats = SpanDedup.contaminationStats(
        Seq((2L, quoting)).toDF("doc_id", "text"), "text", refSet, L)
      .select($"hits", $"n_windows").as[(Long, Long)].head()
    assert(stats._1 > 0 && stats._1 <= stats._2)
    assert(stats._1.toDouble / stats._2 > 0.2)
  }
  test("streaming keyframe dedup: identical MP4 keyframes dropped across batches") {
    // the round-8 H.264 keyframe decoder running INSIDE a streaming
    // plan (expression serialization, per-batch execution) feeding
    // dropDuplicatesWithinWatermark — the video twin of the content
    // dedup gate
    import org.apache.spark.sql.types._
    def video(seed: Int): Array[Byte] =
      graft.ext.VideoFixtures.pcmKeyframeMp4((x, y) =>
        (127 + 90 * math.sin((1 + seed % 5) * x / 2.5 + y / 2.0 + seed)).toInt & 0xFF)
    val sch = StructType(Seq(StructField("vid_id", LongType),
      StructField("ts", TimestampType), StructField("content", BinaryType)))
    val dir = java.nio.file.Files.createTempDirectory("kfdedup").toString
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    def write(rows: Seq[(Long, java.sql.Timestamp, Array[Byte])]): Unit =
      spark.createDataFrame(rows.toDF("vid_id", "ts", "content").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq((1L, ts(0), video(1)), (2L, ts(1), video(2))))
    write(Seq((10L, ts(2), video(1)), (3L, ts(2), video(3)))) // 10 = dup of 1
    write(Seq((20L, ts(3), video(2)), (4L, ts(4), video(4)))) // 20 = dup of 2
    val q = spark.readStream.schema(sch).option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select($"vid_id", $"ts",
        org.apache.spark.sql.graftbridge.column(graft.fn.Kernels.Mp4KeyframeDhash64(
          org.apache.spark.sql.graftbridge.expression($"content"))).as("kf"))
      .where($"kf".isNotNull)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("kf")
      .writeStream.format("memory").queryName("kfdedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("kfdedup").select($"vid_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L, 4L), s"kept=$kept")
  }

  // PNG generator shared by the image-gate tests (q84's scene family:
  // seed-hashed frequencies/phases for high dHash diversity)
  private def scenePng(seed: Int, perturb: Boolean = false): Array[Byte] = {
    def scene(x: Int, y: Int): Int = {
      val u = x / 48.0; val v = y / 32.0
      val h = seed * 2654435761L
      val fu = 2 + (h % 9).toInt.abs; val fv = 1 + ((h >> 8) % 7).toInt.abs
      val p1 = ((h >> 16) % 628).toInt / 100.0
      val p2 = ((h >> 24) % 628).toInt / 100.0
      val base = (127 + 55 * math.sin(fu * u + fv * v + p1) +
        45 * math.cos((fv + 2) * v - fu * u + p2)).toInt & 0xFF
      if (perturb && (x * 31 + y * 17) % 29 == 0) math.min(255, base + 2) else base
    }
    val img = new java.awt.image.BufferedImage(
      48, 32, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 32; x <- 0 until 48)
      img.getRaster.setSample(x, y, 0, scene(x, y))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("streaming image dedup gate: exact + perceptual dups dropped, undecodable dropped, stream == batch groups") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("asset_id", LongType),
      StructField("ts", LongType), StructField("content", BinaryType)))
    val dir = java.nio.file.Files.createTempDirectory("imggate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, Array[Byte])]): Unit =
      spark.createDataFrame(rows.toDF("asset_id", "ts", "content").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: two distinct scenes + one undecodable payload
    write(Seq((1L, 1 * min, scenePng(0)), (2L, 2 * min, scenePng(1)),
      (9L, 2 * min, "not an image".getBytes)))
    // batch 2: exact pixel copy of 1, perceptual near-dup of 2
    // (hamming <= 3 shares a band by pigeonhole), one fresh scene
    write(Seq((10L, 4 * min, scenePng(0)),
      (20L, 5 * min, scenePng(1, perturb = true)),
      (3L, 6 * min, scenePng(2))))
    val q = DocStreams.imageDedupGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        horizon = "30 minutes")
      .writeStream.format("memory").queryName("imggate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min, scenePng(99))))
      q.processAllAvailable()
      spark.table("imggate").filter($"asset_id" < 100)
        .select($"asset_id").as[Long].collect().toSet
    } finally q.stop()
    assert(streamed === Set(1L, 2L, 3L), s"kept=$streamed")
    // batch parity on the same frame: first-occupant choice within a
    // dup group is arbitrary in batch dropDuplicates, so compare one
    // survivor PER GROUP, not ids
    val batch = DocStreams.imageDedupGate(
        spark.read.schema(sch).parquet(dir).filter($"asset_id" < 100))
      .select($"asset_id").as[Long].collect().toSet
    assert(batch.size === 3, s"batch kept=$batch")
    assert(batch.contains(3L))
    assert(batch.intersect(Set(1L, 10L)).size === 1)
    assert(batch.intersect(Set(2L, 20L)).size === 1)
  }

  test("streaming crawl gate: extract + scrub + dedup + normalize, stream == batch") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("url", StringType),
      StructField("html", StringType)))
    def page(body: String): String =
      "<html><head><style>x{y:1}</style><script>var a=1<2;</script></head>" +
        s"<body><!-- c --><p>$body</p></body></html>"
    val long1 = "alpha " * 30 + "mail me at user1@example.com please"
    val long2 = "beta " * 40
    val dir = java.nio.file.Files.createTempDirectory("crawlgate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String, String)]): Unit =
      spark.createDataFrame(rows.toDF("doc_id", "ts", "url", "html").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq(
      (1L, 1 * min, "HTTP://A.example.COM:80/a/../b?utm_source=x&q=1", page(long1)),
      (2L, 2 * min, "https://b.example.org/x", page(long2)),
      (3L, 2 * min, "https://c.example.org/short", page("too short"))))
    // batch 2: an exact content dup of 1 (different URL), a fresh page
    write(Seq(
      (10L, 4 * min, "https://mirror.example.net/copy", page(long1)),
      (4L, 5 * min, "https://d.example.org/y", page("gamma " * 25))))
    val q = DocStreams.crawlGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        horizon = "30 minutes")
      .writeStream.format("memory").queryName("crawlgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min, "https://z.example.org/z", page("omega " * 50))))
      q.processAllAvailable()
      spark.table("crawlgate").filter($"doc_id" < 100).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
          r.getAs[String]("norm_url"), r.getAs[Long]("n_pii"))).toSet
    } finally q.stop()
    // 3 dropped (short), 10 dropped (content dup of 1 inside horizon)
    assert(streamed.map(_._1) === Set(1L, 2L, 4L), s"kept=$streamed")
    val row1 = streamed.find(_._1 == 1L).get
    assert(row1._2 === "example.com")
    assert(row1._3 === "http://a.example.com/b?q=1") // scheme/host lower, :80 + utm + dot-segments gone
    assert(row1._4 === 1L) // the planted email was counted + redacted
    val kept1Text = spark.table("crawlgate").filter($"doc_id" === 1L)
      .select($"text_out").as[String].head()
    assert(kept1Text.contains("<EMAIL>") && !kept1Text.contains("user1@"))
    assert(!kept1Text.contains("<p>") && !kept1Text.contains("var a"))
    // batch parity: same frame through the same gate
    val batch = DocStreams.crawlGate(
        spark.read.schema(sch).parquet(dir).filter($"doc_id" < 100))
      .select($"doc_id").as[Long].collect().toSet
    assert(batch.size === 3 && batch.contains(2L) && batch.contains(4L))
    assert(batch.intersect(Set(1L, 10L)).size === 1)
  }

  test("streaming byte crawl gate: authority chain decodes, dedup is encoding-invariant, stream == batch") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("url", StringType),
      StructField("content_type", StringType),
      StructField("payload", BinaryType)))
    def page(head: String, body: String): String =
      s"<html><head>$head</head><body><p>$body</p></body></html>"
    val long1 = "alpha " * 30 + "mail user9@example.com now"
    val longJa = ("beta " * 30) + "カナ 日本語"
    val longKo = ("gamma " * 30) + "한국 텍스트"
    val dir = java.nio.file.Files.createTempDirectory("bytegate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, String, String, Array[Byte])]): Unit =
      spark.createDataFrame(
        rows.toDF("doc_id", "ts", "url", "content_type", "payload").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq(
      // plain UTF-8, no declaration
      (1L, 1 * min, "https://a.example.com/u8", "text/html",
        page("", long1).getBytes("UTF-8")),
      // meta-declared Shift_JIS (bytes are NOT valid UTF-8 fallback fodder)
      (2L, 2 * min, "https://b.example.org/sj", "text/html",
        page("""<meta charset="sjis">""", longJa).getBytes("windows-31j")),
      // header-declared EUC-KR
      (3L, 2 * min, "https://c.example.org/kr", "text/html; charset=euc-kr",
        page("", longKo).getBytes("x-windows-949"))))
    write(Seq(
      // the SAME document as 1, captured as BOM'd UTF-16LE: decoded
      // text is identical, so the content dedup must drop it even
      // though not one payload byte matches
      (10L, 4 * min, "https://mirror.example.net/u16", "text/html",
        Array[Byte](0xFF.toByte, 0xFE.toByte) ++
          page("", long1).getBytes("UTF-16LE")),
      (4L, 5 * min, "https://d.example.org/short", "text/html",
        page("", "too short").getBytes("UTF-8"))))
    val q = DocStreams.byteCrawlGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        horizon = "30 minutes")
      .writeStream.format("memory").queryName("bytegate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min, "https://z.example.org/z", "text/html",
        page("", "omega " * 40).getBytes("UTF-8"))))
      q.processAllAvailable()
      spark.table("bytegate").filter($"doc_id" < 100).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
          r.getAs[Long]("n_pii"), r.getAs[String]("text_out"))).toSet
    } finally q.stop()
    // 4 dropped (short), 10 dropped (encoding-changed content dup of 1)
    assert(streamed.map(_._1) === Set(1L, 2L, 3L), s"kept=$streamed")
    val ja = streamed.find(_._1 == 2L).get
    assert(ja._4.contains("カナ 日本語"), s"sjis text=${ja._4}")
    val ko = streamed.find(_._1 == 3L).get
    assert(ko._4.contains("한국 텍스트"), s"euckr text=${ko._4}")
    assert(streamed.find(_._1 == 1L).get._3 === 1L) // planted email redacted
    // batch parity: same frame through the same gate
    val batch = DocStreams.byteCrawlGate(
        spark.read.schema(sch).parquet(dir).filter($"doc_id" < 100))
      .select($"doc_id").as[Long].collect().toSet
    assert(batch.size === 3 && batch.contains(2L) && batch.contains(3L))
    assert(batch.intersect(Set(1L, 10L)).size === 1)
  }

  test("streaming audio dedup gate: exact + perceptual dups dropped over FLAC clips, stream kept-set") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("asset_id", LongType),
      StructField("ts", LongType), StructField("content", BinaryType)))
    val dir = java.nio.file.Files.createTempDirectory("audgate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, Array[Byte])]): Unit =
      spark.createDataFrame(rows.toDF("asset_id", "ts", "content").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    def clip(seed: Int, perturb: Boolean = false): Array[Byte] =
      graft.ext.AudioFixtures.toneClip(seed, nSamples = 8192, perturb = perturb)
    write(Seq((1L, 1 * min, clip(0)), (2L, 2 * min, clip(1)),
      (9L, 2 * min, "not audio".getBytes)))
    write(Seq((10L, 4 * min, clip(0)),              // exact dup of 1
      (20L, 5 * min, clip(1, perturb = true)),      // perceptual dup of 2
      (3L, 6 * min, clip(2))))                      // fresh
    // Ogg Vorbis routes through the SAME gate (round-10 decode path):
    // one fresh stream, then its exact byte dup inside the horizon
    write(Seq((4L, 7 * min, graft.ext.VorbisPcmFixtures.stream(5L)),
      (30L, 8 * min, graft.ext.VorbisPcmFixtures.stream(5L))))
    val q = DocStreams.audioDedupGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        horizon = "30 minutes")
      .writeStream.format("memory").queryName("audgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min, clip(99))))
      q.processAllAvailable()
      spark.table("audgate").filter($"asset_id" < 100)
        .select($"asset_id").as[Long].collect().toSet
    } finally q.stop()
    assert(streamed === Set(1L, 2L, 3L, 4L), s"kept=$streamed")
  }

  test("batch gate determinism: every collision component keeps exactly its minimal representative") {
    // 30 images in 10 near-dup pairs + 10 singles, shuffled across
    // partitions: the (ts, id)-min winner rule must keep EXACTLY one
    // per pair (never zero — the split-winner hazard) and be stable
    // across runs
    val min = 60L * 1000000000L
    val rows = (0 until 10).flatMap { g =>
      Seq((g.toLong, (g + 1) * min, scenePng(g)),
        (g + 100L, (g + 20) * min, scenePng(g, perturb = true)))
    } ++ (0 until 10).map(g => (g + 200L, (g + 40) * min, scenePng(50 + g)))
    val df = rows.toDF("asset_id", "ts", "content").repartition(16)
    val kept1 = DocStreams.imageDedupGate(df).select($"asset_id")
      .as[Long].collect().toSet
    val kept2 = DocStreams.imageDedupGate(df.repartition(5)).select($"asset_id")
      .as[Long].collect().toSet
    assert(kept1 === kept2, "batch winners must be partitioning-independent")
    // dedup works: never both members of a planted pair
    (0 until 10).foreach(g =>
      assert(!(kept1.contains(g.toLong) && kept1.contains(g + 100L)), s"pair $g"))
    // the min-winner guarantee: every COLLISION component (any shared
    // 16-bit band bucket, the gate's own granularity — accidental
    // single-band collisions included, that's the documented
    // conservatism) keeps >= 1 representative; arbitrary per-band
    // winners could drop a whole component
    val hashes = graft.ext.Images.withDhash(
        rows.toDF("asset_id", "ts", "content"))
      .where($"dhash".isNotNull)
      .select($"asset_id", $"dhash").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map(hashes.map(_._1 -> -1L): _*)
    def find(x: Long): Long = if (parent(x) < 0) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val buckets = scala.collection.mutable.Map[(Int, Long), Long]()
    hashes.foreach { case (id, h) =>
      (0 until 4).foreach { b =>
        val key = (b, (h >>> (16 * b)) & 0xFFFFL)
        buckets.get(key) match {
          case Some(o) => union(id, o)
          case None => buckets(key) = id
        }
      }
    }
    hashes.map(h => find(h._1)).distinct.foreach { root =>
      val members = hashes.map(_._1).filter(id => find(id) == root).toSet
      assert(members.exists(kept1.contains),
        s"component $members lost every representative")
    }
  }

  test("streaming video dedup gate: CABAC + CAVLC keyframes dedup cross-entropy") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("asset_id", LongType),
      StructField("ts", LongType), StructField("content", BinaryType)))
    val dir = java.nio.file.Files.createTempDirectory("vidgate").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, Array[Byte])]): Unit =
      spark.createDataFrame(rows.toDF("asset_id", "ts", "content").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    def scene(seed: Int)(x: Int, y: Int): Int =
      (127 + 90 * math.sin((1 + seed % 5) * x / 2.5 + y / 2.0 + seed)).toInt & 0xFF
    // 1/2 distinct CAVLC; 10 = the SAME pixels as 1 but CABAC-coded —
    // the entropy layer must be invisible to the dedup state
    write(Seq((1L, 1 * min, graft.ext.VideoFixtures.pcmKeyframeMp4(scene(1))),
      (2L, 2 * min, graft.ext.VideoFixtures.pcmKeyframeMp4(scene(2)))))
    write(Seq((10L, 4 * min, graft.ext.VideoFixtures.pcmKeyframeMp4Cabac(scene(1))),
      (3L, 5 * min, graft.ext.VideoFixtures.pcmKeyframeMp4Cabac(scene(3)))))
    val q = DocStreams.videoDedupGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        horizon = "30 minutes")
      .writeStream.format("memory").queryName("vidgate")
      .outputMode("append").start()
    val kept = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min,
        graft.ext.VideoFixtures.pcmKeyframeMp4(scene(9)))))
      q.processAllAvailable()
      spark.table("vidgate").filter($"asset_id" < 100)
        .select($"asset_id").as[Long].collect().toSet
    } finally q.stop()
    assert(kept === Set(1L, 2L, 3L), s"kept=$kept")
  }

  test("image dedup gate horizon expiry: a perceptual dup after the horizon is kept again") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("asset_id", LongType),
      StructField("ts", LongType), StructField("content", BinaryType)))
    val dir = java.nio.file.Files.createTempDirectory("imggate2").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, Array[Byte])]): Unit =
      spark.createDataFrame(rows.toDF("asset_id", "ts", "content").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq((1L, 1 * min, scenePng(5))))
    // 10 min horizon: in-horizon near-dup suppressed; two fillers
    // advance the watermark and run the eviction pass (state cleanup
    // is post-batch and the watermark lags one micro-batch); the same
    // scene at 120min re-occupies the expired band buckets -> kept
    write(Seq((2L, 6 * min, scenePng(5, perturb = true))))
    write(Seq((50L, 60 * min, scenePng(6))))
    write(Seq((51L, 70 * min, scenePng(7))))
    write(Seq((3L, 120 * min, scenePng(5))))
    val q = DocStreams.imageDedupGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        horizon = "10 minutes")
      .writeStream.format("memory").queryName("imggate2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      write(Seq((100L, 1200 * min, scenePng(99))))
      q.processAllAvailable()
      val kept = spark.table("imggate2").filter($"asset_id" < 100)
        .select($"asset_id").as[Long].collect().toSet
      assert(kept === Set(1L, 50L, 51L, 3L), s"kept=$kept")
    } finally q.stop()
  }


  test("streaming ANY-FRAME video gate: a mid-GOP re-cut is deduped; keyframe gate admits it") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("asset_id", LongType),
      StructField("ts", LongType), StructField("content", BinaryType)))
    val dir = java.nio.file.Files.createTempDirectory("vidgate3").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, Array[Byte])]): Unit =
      spark.createDataFrame(rows.toDF("asset_id", "ts", "content").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    def scene(seed: Int)(x: Int, y: Int): Int =
      (127 + 110 * math.sin((2 + seed % 5) * x / 1.9 + (1 + seed % 4) * y / 2.3 + seed)).toInt & 0xFF
    def recutOf(seed: Int): Array[Byte] =
      graft.ext.VideoFixtures.pcmKeyframeMp4(
        (x, y) => scene(seed)(math.min(15, x + 8), y))
    // asset 1: I/P/B GOP; asset 2: re-cut planting asset 1's decoded
    // P frame (no keyframe shared); asset 3: fresh scene
    write(Seq((1L, 1 * min, graft.ext.VideoFixtures.gopSceneMp4(scene(5), 8)),
      (2L, 3 * min, recutOf(5)),
      (3L, 6 * min, graft.ext.VideoFixtures.gopSceneMp4(scene(9), 8))))
    val rowsDf = spark.read.schema(sch).parquet(dir)
    // batch frame: any-frame gate drops the re-cut, keeps 1 and 3
    val batchKept = graft.streaming.DocStreams.videoAnyFrameDedupGate(
      rowsDf, maxFrames = 4).select("asset_id").as[Long].collect().toSet
    assert(batchKept === Set(1L, 3L), s"batch kept=$batchKept")
    // the KEYFRAME gate admits the re-cut (keyframes differ) — the
    // discrimination the any-frame gate exists for
    val kfKept = graft.streaming.DocStreams.videoDedupGate(rowsDf)
      .select("asset_id").as[Long].collect().toSet
    assert(kfKept === Set(1L, 2L, 3L), s"keyframe kept=$kfKept")
    // streaming parity
    val q = graft.streaming.DocStreams.videoAnyFrameDedupGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        maxFrames = 4, horizon = "30 minutes")
      .writeStream.format("memory").queryName("vidgate3")
      .outputMode("append").start()
    val kept = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min,
        graft.ext.VideoFixtures.pcmKeyframeMp4(scene(7)))))
      q.processAllAvailable()
      spark.table("vidgate3").filter($"asset_id" < 100)
        .select($"asset_id").as[Long].collect().toSet
    } finally q.stop()
    assert(kept === batchKept, s"stream kept=$kept vs batch=$batchKept")
  }

  test("streaming any-frame gate on a MIXED MP4+WebM stream: cross-container dups drop, stream == batch") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("asset_id", LongType),
      StructField("ts", LongType), StructField("content", BinaryType)))
    val dir = java.nio.file.Files.createTempDirectory("vidgate4").toString
    val min = 60L * 1000000000L
    def write(rows: Seq[(Long, Long, Array[Byte])]): Unit =
      spark.createDataFrame(rows.toDF("asset_id", "ts", "content").rdd, sch)
        .coalesce(1).write.mode("append").parquet(dir)
    // smooth scene (the Vp8SqlSpec pairing shape): high-frequency
    // content would alias through the 9×8 resize and let VP8
    // quantization noise drift the hash past the hamming gate
    def scene(seed: Int)(x: Int, y: Int): Int =
      (127 + 90 * math.sin((1 + seed % 5) * x / 2.5 + y / 2.0 + seed)).toInt & 0xFF
    def webmOf(seed: Int): Array[Byte] = {
      val g = Array.tabulate(16 * 16)(p => scene(seed)(p % 16, p / 16))
      graft.ext.WebmFixtures.vp8Webm(
        Seq((0L, graft.ext.Vp8Fixtures.encodeGrayFrame(g, 16, 16, 4)._1)), 16, 16)
    }
    // 1: MP4 original; 2: its VP8-in-WebM re-encode (must drop —
    // the cross-container shape); 3: fresh WebM-only scene (kept)
    write(Seq((1L, 1 * min, graft.ext.VideoFixtures.pcmKeyframeMp4(scene(4))),
      (2L, 3 * min, webmOf(4)),
      (3L, 6 * min, webmOf(21))))
    val rowsDf = spark.read.schema(sch).parquet(dir)
    val batchKept = graft.streaming.DocStreams.videoAnyFrameDedupGate(
      rowsDf, maxFrames = 4).select("asset_id").as[Long].collect().toSet
    assert(batchKept === Set(1L, 3L), s"batch kept=$batchKept")
    val q = graft.streaming.DocStreams.videoAnyFrameDedupGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir),
        maxFrames = 4, horizon = "30 minutes")
      .writeStream.format("memory").queryName("vidgate4")
      .outputMode("append").start()
    val kept = try {
      q.processAllAvailable()
      write(Seq((100L, 600 * min, webmOf(77))))
      q.processAllAvailable()
      spark.table("vidgate4").filter($"asset_id" < 100)
        .select($"asset_id").as[Long].collect().toSet
    } finally q.stop()
    assert(kept === batchKept, s"stream kept=$kept vs batch=$batchKept")
  }

  test("streaming subtitle gate: all three carriages + legacy encodings, stream == batch") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("content", BinaryType), StructField("charset", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("subgate").toString
    val min = 60L * 1000000000L
    import graft.ext.SubtitleFixtures
    // ids 1/4: standalone WebVTT in legacy encodings (shift_jis /
    // windows-1252); 2: MP4 wvtt; 3: MP4 stpp (TTML); 6: WebM S_TEXT;
    // 9: non-subtitle bytes (dropped)
    spark.createDataFrame(Seq(
        (1L, 1 * min, SubtitleFixtures.encodedDoc(1L), "shift_jis"),
        (2L, 2 * min, SubtitleFixtures.wvttMp4(2L), null),
        (3L, 3 * min, SubtitleFixtures.stppMp4(3L), null),
        (4L, 4 * min, SubtitleFixtures.encodedDoc(2L), "windows-1252"),
        (6L, 6 * min, graft.ext.WebmFixtures.subtitleWebm(6L), null),
        (9L, 9 * min, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), null))
        .toDF("doc_id", "ts", "content", "charset").rdd, sch)
      .coalesce(1).write.mode("append").parquet(dir)

    val q = DocStreams.subtitleGate(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir))
      .writeStream.format("memory").queryName("subgate")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("subgate")
        .select($"doc_id", $"cue_idx", $"start_ms", $"end_ms", $"text")
        .as[(Long, Int, Long, Long, String)].collect().toSet
    } finally q.stop()
    val batch = DocStreams.subtitleGate(spark.read.schema(sch).parquet(dir))
      .select($"doc_id", $"cue_idx", $"start_ms", $"end_ms", $"text")
      .as[(Long, Int, Long, Long, String)].collect().toSet
    assert(streamed === batch, "stateless gate must be plan-identical")
    assert(streamed.map(_._1) === Set(1L, 2L, 3L, 4L, 6L), "junk must drop")
    // every carriage reproduces its fixture's cue arithmetic
    for ((doc, fid) <- Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 6L -> 6L)) {
      val got = streamed.filter(_._1 == doc).toSeq.sortBy(_._2)
      assert(got.size === SubtitleFixtures.nCues(fid), s"doc=$doc")
      got.zipWithIndex.foreach { case ((_, _, s0, e0, _), k) =>
        assert(s0 === SubtitleFixtures.startMs(fid, k), s"doc=$doc k=$k")
        assert(e0 === SubtitleFixtures.endMs(fid, k), s"doc=$doc k=$k")
      }
    }
    // the i18n arm decoded through the right charset
    val sj = streamed.filter(_._1 == 1L).map(_._5)
    assert(sj.forall(_.contains(SubtitleFixtures.i18nWord(1L))), s"got=$sj")
    // language-ID rode along statelessly
    val langs = spark.table("subgate").select($"doc_id", $"lang_pred")
      .as[(Long, String)].collect().toSet
    assert(langs.nonEmpty && langs.forall(_._2 != null))
  }
}
