package graft

import graft.ext.{Curation, CurationGovernance, SpanDedup}
import org.apache.spark.sql.functions._

/** Invariants of the corpus-curation tier beyond the aggregate oracles. */
class CurationSpec extends SparkSpec {

  test("q98: redaction is complete and count-exact on a crafted card") {
    import spark.implicits._
    val df = Seq(
      "write to a@b.com or bob9@mail.org, call 123-555-0001 now",
      "no pii here at all",
    ).toDF("card")
    val (ne, np, red) = CurationGovernance.redactPii($"card")
    val rows = df.select(ne.as("ne"), np.as("np"), red.as("red")).collect()
    assert(rows(0).getInt(0) === 2)
    assert(rows(0).getInt(1) === 1)
    assert(rows(0).getString(2) === "write to [EMAIL] or [EMAIL], call [PHONE] now")
    assert(rows(1).getInt(0) === 0 && rows(1).getInt(1) === 0)
    assert(rows(1).getString(2) === "no pii here at all")
  }

  test("q100: eval side of the contamination join is broadcast (corpus never shuffles)") {
    val plan = Curation.contaminationCheck(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the eval gram set broadcast, got:\n$plan")
  }

  test("q101: sample assignment is deterministic under repartitioning") {
    val a = Curation.stratifiedSample(spark, sfDir).collect()
    val b = Curation.stratifiedSample(spark, sfDir)
      .repartition(7).sort("lang", "source").collect()
    assert(a.toSeq === b.toSeq)
    // en is genuinely down-sampled, non-en kept whole
    val bylang = Curation.stratifiedSample(spark, sfDir)
      .groupBy("lang").agg(sum("n_total").as("t"), sum("n_kept").as("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    bylang.foreach { case (lang, (t, k)) =>
      if (lang == "en") assert(k < t) else assert(k === t)
    }
  }

  test("q102: repetition ratio bounds and trigram accounting") {
    import spark.implicits._
    val rep = Curation.docRepetition(spark, sfDir)
    assert(rep.filter($"rep_ratio" < 0 || $"rep_ratio" > 1).count() === 0)
    assert(rep.filter($"n_distinct" > $"n_grams").count() === 0)
    // n_grams = tokens - 2 for every doc with >= 3 tokens
    val docs = graft.ingest.Tables.documents(spark, sfDir)
      .select($"doc_id", size(split($"text", " ")).as("n_tok"))
      .filter($"n_tok" >= 3)
    val bad = rep.join(docs, "doc_id")
      .filter($"n_grams" =!= $"n_tok" - 2)
    assert(bad.count() === 0)
  }

  test("q98 property: redaction is idempotent and complete on random PII-laced text") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.alphaLowerStr.map(_.take(6)).suchThat(_.nonEmpty)
    val email = for { a <- word; b <- word } yield s"$a@$b.com"
    val phone = Gen.chooseNum(0, 9999).map(n => f"${n % 1000}%03d-555-$n%04d")
    val piece = Gen.oneOf(word, email, phone)
    val textGen = Gen.listOfN(12, piece).map(_.mkString(" "))
    val texts = (1L to 40L).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(i))).toList
    assert(texts.size >= 35) // suchThat may drop a few seeds
    val df = texts.toDF("card")
    val (ne, np, red) = CurationGovernance.redactPii($"card")
    val once = df.select(red.as("card"))
    // complete: no email/phone pattern survives one pass
    val (ne2, np2, red2) = CurationGovernance.redactPii($"card")
    val counts = once.select(ne2.as("ne"), np2.as("np"), red2.as("red"))
    assert(counts.filter($"ne" =!= 0 || $"np" =!= 0).count() === 0)
    // idempotent: a second pass changes nothing
    assert(counts.filter($"red" =!= $"card").count() === 0)
  }

  test("q107: cap respected and operator ≡ window formulation") {
    import spark.implicits._
    val capped = CurationGovernance.sourceCaps(spark, sfDir)
    assert(capped.groupBy("source").count().filter($"count" > 4).count() === 0)
    val windowTwin = graft.ingest.Tables.documents(spark, sfDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")))
      .filter($"rn" <= 4)
      .select("source", "doc_id", "lang", "n_chars")
    assert(capped.except(windowTwin).count() === 0)
    assert(windowTwin.except(capped).count() === 0)
  }

  test("q108: funnel stages are monotone and dedup drops exactly the non-canonical members") {
    import spark.implicits._
    val funnel = Curation.curationPipeline(spark, sfDir)
    val bad = funnel.filter(
      $"n_raw" < $"n_dedup" || $"n_dedup" < $"n_quality" || $"n_quality" < $"n_final")
    assert(bad.count() === 0)
    val clusters = graft.ext.DedupClusters.dedupClusters(spark, sfDir)
    val dropped = clusters.agg(sum($"n_members" - 1)).head.getLong(0)
    val totals = funnel.agg(sum("n_raw").as("raw"), sum("n_dedup").as("dedup")).head
    assert(totals.getLong(0) - totals.getLong(1) === dropped)
  }

  test("q103: ORC round-trip preserves rows, schema, and the partition column") {
    val src = graft.ingest.Tables.documents(spark, sfDir)
    val agg = graft.ingest.ColumnarFormats.orcRoundtrip(spark, sfDir)
    assert(agg.agg(sum("n_docs")).head.getLong(0) === src.count())
    // partition column survives with full cardinality
    assert(agg.select("lang").distinct().count() ===
      src.select("lang").distinct().count())
    // a wiped fixture directory rebuilds: its build-once marker lives
    // inside it, so no surviving marker can point at a missing table
    val first = agg.collect().toSeq
    graft.util.Fs.deleteRecursively(graft.ingest.Landing.fixtureDir(sfDir, "documents_orc"))
    assert(graft.ingest.ColumnarFormats.orcRoundtrip(spark, sfDir).collect().toSeq === first)
  }

  test("q145: span-dedup laws — kept == distinct spans; untouched docs reassemble verbatim") {
    import spark.implicits._
    val res = SpanDedup.spanDedup(spark, sfDir)
    // conservation: total kept spans across the corpus == distinct span
    // contents (each content kept exactly once) — derived through the
    // SAME span extraction the query uses
    val kept = res.agg(sum($"n_kept")).first().getLong(0)
    val distinctSpans = SpanDedup.spansOf(graft.ingest.Tables.documents(spark, sfDir))
      .select($"span").distinct().count()
    assert(kept === distinctSpans, "kept-span total != distinct span contents")
    // reassembly identity: a doc that lost nothing must reassemble to
    // its original text byte-for-byte
    val docs = graft.ingest.Tables.documents(spark, sfDir)
      .select($"doc_id", md5($"text").as("orig_md5"))
    val untouched = res.filter($"n_kept" === $"n_spans").join(docs, "doc_id")
    assert(untouched.count() > 0, "no untouched doc to test reassembly on")
    assert(untouched.filter($"clean_md5" =!= $"orig_md5").isEmpty,
      "an untouched document did not reassemble to its original text")
  }

  test("q216: crypto-shredding — decrypt∘encrypt is identity; a shredded key leaves only noise") {
    import spark.implicits._
    val e = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"value")
    val vault = e.select($"user_id").distinct()
      .select($"user_id",
        substring(md5($"user_id".cast("string")).cast("binary"), 1, 16).as("key"))
    val store = e.join(vault, "user_id")
      .select($"event_id", $"user_id", $"value",
        aes_encrypt($"value".cast("string").cast("binary"), $"key", lit("ECB")).as("payload"))
    // decrypt with the right key recovers every value exactly
    val back = store.join(vault, "user_id")
      .select($"event_id", $"value",
        aes_decrypt($"payload", $"key", lit("ECB")).cast("string").cast("double").as("v"))
    assert(back.filter(!($"v" <=> $"value")).isEmpty, "decrypt∘encrypt must be identity")
    // a WRONG key (another user's) must not decrypt: try_aes_decrypt
    // yields null (padding check fails) — the ciphertext is noise
    val wrongKey = vault.select(($"user_id" + 1).as("user_id"), $"key")
    val noise = store.join(wrongKey, "user_id")
      .select(expr("try_aes_decrypt(payload, key, 'ECB')").as("p"))
    val n = noise.count()
    val nulls = noise.filter($"p".isNull).count()
    assert(n > 0 && nulls.toDouble / n > 0.99,
      s"wrong-key decrypts should fail padding: $nulls/$n null")
    // the registered query's accounting: readable rows = rows of users
    // whose key survived the erasure
    val q = graft.ext.CurationGovernance.cryptoShred(spark, sfDir)
    val expected = e.filter($"user_id" % 100 =!= 13).count()
    assert(q.agg(sum($"n_readable")).head().getLong(0) === expected)
  }
}
