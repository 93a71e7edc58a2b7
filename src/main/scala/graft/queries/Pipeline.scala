package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsOf, Bpe, Curation, Dedup, EventWindows, Multimodal, RangeJoin, Similarity, Sketches, TextOps, Whiten}

/** Training-data pipeline suite: dedup family, text analysis, similarity
  * search, event-time windows — the 100 TB-scale operators beyond the
  * reference's own surface (builder brief; BASELINE.json north star).
  */
object Pipeline {

  // Per-(kind, corpus-dir) trained-artifact locations for t14/s9/d11
  // (train once per process). computeIfAbsent is ATOMIC per key — the
  // build thunk runs exactly once even under concurrent first calls, so
  // no duplicate training and no orphaned loser temp dir (TrieMap's
  // getOrElseUpdate, used previously, ran the side-effecting thunk
  // non-atomically). Every temp dir is deleted on JVM exit.
  private val artifactDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private val tmpRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  locally {
    sys.addShutdownHook {
      tmpRoots.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Memoized trained-artifact dir: build runs once per (kind, corpus). */
  private def artifactDir(kind: String, dir: String)(build: String => Unit): String =
    artifactDirs.computeIfAbsent(s"$kind|$dir", { _ =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-$kind-")
      tmpRoots.add(tmp)
      build(tmp.toString)
      tmp.toString
    })

  /** The dedup-chain artifact: cluster labels saved once per corpus;
    * d11 gates the round trip, d9/d10 derive from it.
    */
  private def clusterLabelDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    artifactDir("dupclusters", dir)(tmp =>
      graft.operators.Dedup.clusterAndSave(Tables.documents(s, dir), tmp))

  /** The composed daily-ingest report over the text/embedding artifact
    * economy — p41's body, shared with p56 (which appends the
    * perceptual-media legs to the same base plan). Every artifact rides
    * the per-(kind, corpus) memoization, so the two queries build each
    * saved index exactly once per process.
    */
  private def dailyIngestBase(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val dCut = docs.count() * 4 / 5
    val vCut = emb.count() * 4 / 5
    // FIRST-BUILD overlap (guide §2.6, the Par pattern one level down
    // from p56's query legs): the five artifacts below are mutually
    // independent trainings, so their one-per-process builds run
    // concurrently instead of one-by-one — artifactDir's
    // computeIfAbsent stays the per-key atomicity guard (no build
    // thunk calls artifactDir itself, so no recursive-update hazard).
    // Memoized calls return instantly, so warm passes pay nothing.
    val Seq(idxDir, substrDir, kmDir, lmOldDir, lmShardDir) =
      graft.functions.Par.run(
        () => artifactDir("lshindex", dir)(tmp =>
          Dedup.buildAndSaveLshIndex(docs.filter(col("doc_id") < dCut), tmp)),
        () => artifactDir("substridx", dir)(tmp =>
          Dedup.buildAndSaveSubstrIndex(docs.filter(col("doc_id") < dCut), tmp)),
        () => artifactDir("km_old", dir)(tmp =>
          Similarity.trainAndSaveKmeans(emb.filter(col("vec_id") < vCut), 4, 2, tmp)),
        () => artifactDir("lm_old", dir)(tmp =>
          TextOps.trainAndSaveSurprisalModel(docs.filter(col("doc_id") < dCut), tmp)),
        () => artifactDir("lm_shard", dir)(tmp =>
          TextOps.trainAndSaveSurprisalModel(docs.filter(col("doc_id") >= dCut), tmp)))
    val idx = Dedup.loadLshIndex(s, idxDir)
    // second wave, both depending on the saved LSH index only
    val Seq(labDir, pairsDir) = graft.functions.Par.run(
      () => artifactDir("lshlabels", dir)(tmp =>
        Dedup.clusterIndexAndSave(idx, tmp)),
      () => artifactDir("shardpairs", dir)(tmp =>
        graft.sources.ModelStore.saveLarge(
          Dedup.shardLshPairs(docs.filter(col("doc_id") >= dCut), idx), tmp)))
    Curation.dailyIngest(docs, emb, dCut, vCut,
      graft.sources.ModelStore.load(s, pairsDir),
      Dedup.loadClusters(s, labDir),
      Dedup.loadSubstrIndex(s, substrDir),
      graft.sources.ModelStore.load(s, s"$kmDir/centroids"),
      graft.sources.ModelStore.load(s, s"$kmDir/cells"),
      TextOps.loadSurprisalModel(s, lmOldDir),
      TextOps.loadSurprisalModel(s, lmShardDir), 0.4)
  }

  /** mm11's body (shard-side image hashes band-probe the saved
    * fingerprint table), shared with p56's image leg.
    */
  private def imageShardPairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val cut = docs.count() * 4 / 5
    val idxDir = artifactDir("imghash", dir) { tmp =>
      graft.sources.ModelStore.saveLarge(
        Multimodal.imageHashes(Multimodal.hashAssets(docs.filter(col("doc_id") < cut))),
        s"$tmp/hashes")
    }
    Multimodal.imageShardNearDup(
      graft.sources.ModelStore.load(s, s"$idxDir/hashes"),
      Multimodal.hashAssets(docs.filter(col("doc_id") >= cut)))
  }

  /** mm12's body (waveform fingerprints), shared with p56's audio leg. */
  private def audioShardPairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val cut = docs.count() * 4 / 5
    val idxDir = artifactDir("audhash", dir) { tmp =>
      graft.sources.ModelStore.saveLarge(
        Multimodal.audioHashes(
          Multimodal.audioHashAssets(docs.filter(col("doc_id") < cut))),
        s"$tmp/hashes")
    }
    Multimodal.audioShardNearDup(
      graft.sources.ModelStore.load(s, s"$idxDir/hashes"),
      Multimodal.audioHashAssets(docs.filter(col("doc_id") >= cut)))
  }

  /** mm13's body (per-frame hash index), shared with p56's video leg. */
  private def videoShardPairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val cut = docs.count() * 4 / 5
    val idxDir = artifactDir("vidhash", dir) { tmp =>
      graft.sources.ModelStore.saveLarge(
        Multimodal.videoFrameHashes(
          Multimodal.videoHashAssets(docs.filter(col("doc_id") < cut))),
        s"$tmp/hashes")
    }
    Multimodal.videoShardNearDup(
      graft.sources.ModelStore.load(s, s"$idxDir/hashes"),
      Multimodal.videoHashAssets(docs.filter(col("doc_id") >= cut)))
  }

  /** The t54 serving batch — mixed chain lengths, mixed gaps, shared by
    * the Spark query and the generated oracle: the t53 request verbatim
    * (one-row-batch == t53 modulo the query_id column), a k = 2 chain
    * (proximity semantics through the general server), a tighter-gap
    * variant of the same chain, and a duplicate-term chain.
    */
  private val SpanNearBatch: Seq[(Long, Seq[String], Int)] = Seq(
    (1L, graft.operators.TextOps.SpanNearTerms, graft.operators.TextOps.SpanNearGap),
    (2L, Seq("window", "join"), 5),
    (3L, Seq("window", "join", "hash"), 3),
    (4L, Seq("the", "the"), 4))

  /** The t59 serving batch — requests chosen to exercise the budget
    * policy at every fixture scale: the standard bench query (all
    * near-stopword terms — only the rarest survives), a rare term
    * riding with two hot ones (the rare term plus the cheaper hot one
    * survive), an out-of-vocabulary term (costs 0, survives, scores
    * nothing) with a rare partner, and an all-hot request (degrades to
    * its single cheapest term). The df PROPORTIONS drive the rule, so
    * the kept sets are stable across scale factors and both engines
    * replay them identically.
    */
  private val Bm25BudgetBatch: Seq[(Long, Seq[String])] = Seq(
    (1L, graft.operators.TextOps.Bm25Query),
    (2L, Seq("dup", "the", "batch")),
    (3L, Seq("zzznotaterm", "dup")),
    (4L, Seq("join", "merge", "scan", "row")))

  /** The t58 serving batch (the [[SpanNearBatch]] convention for the
    * unordered family): the t57 request verbatim, a 2-term pair in a
    * tight window, a wide-window variant, and a duplicate-term request
    * (set semantics — collapses to 2 distinct terms).
    */
  private val CoocBatch: Seq[(Long, Seq[String], Int)] = Seq(
    (1L, graft.operators.TextOps.CoocTerms, graft.operators.TextOps.CoocWindow),
    (2L, Seq("window", "join"), 4),
    (3L, Seq("window", "join", "hash"), 30),
    (4L, Seq("the", "a", "the"), 6))

  val queries: Seq[QueryDef] = Seq(

    // -------- dedup
    QueryDef.sql("d1_dedup_exact", Dedup.sqlExact) { (s, dir) =>
      Dedup.exact(Tables.documents(s, dir))
    },
    QueryDef.sql("d2_ngram_jaccard", Dedup.sqlJaccardPairs) { (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir))
    },
    // d2's pairs via PREFIX FILTERING (Bayardo 2007): deterministic
    // candidate bound (LSH d4 is probabilistic), join keys shrink to the
    // rare-shingle prefix — same output, same oracle, pure plan change
    // DIRECTED containment pairs: the quote/subset detector symmetric
    // Jaccard misses — src's rarest-first prefix joined against the full
    // df-capped index (the d21 bound, asymmetric form), exact verify
    QueryDef.sql("d22_containment", Dedup.sqlContainmentPairs) { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir))
    },
    QueryDef.sql("d21_ppjoin", Dedup.sqlJaccardPairs) { (s, dir) =>
      Dedup.ppJoinPairs(Tables.documents(s, dir))
    },
    // method-agreement honesty table (d24): per detector pair — exact
    // Jaccard (d2), MinHash-LSH (d4), SimHash (d15) — pair counts,
    // intersection, set-Jaccard of verdicts; the d2-vs-d4 row IS the
    // measured banding recall on this corpus, the d15 rows are genuine
    // method disagreements (different similarity)
    QueryDef.sql("d24_method_agreement", Dedup.sqlMethodAgreement) { (s, dir) =>
      Dedup.methodAgreement(Tables.documents(s, dir))
    },
    QueryDef.sql("d3_minhash_sig", Dedup.sqlMinhashSignatures) { (s, dir) =>
      Dedup.minhashSignatures(Tables.documents(s, dir))
    },
    QueryDef.sql("d4_minhash_lsh", Dedup.sqlLshPairs) { (s, dir) =>
      Dedup.lshPairs(Tables.documents(s, dir))
    },
    QueryDef.sql("d5_simhash", Dedup.sqlSimhash) { (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir))
    },
    // LSH banding tuning table: measured candidate volume (counted from
    // bucket sizes, pairs never materialized) + S-curve recall per
    // (bands, rows) split of the same signature — the knob table an
    // operator reads before picking a banding
    QueryDef.sql("d18_lsh_tuning", Dedup.sqlLshTuningReport) { (s, dir) =>
      Dedup.lshTuningReport(Tables.documents(s, dir))
    },
    // SimHash -> PAIRS (Manku et al. 2007): byte-band pigeonhole
    // candidates + bit_count(xor) verify — EXACT within Hamming<=3 by
    // construction, the crawl-dedup complement to MinHash's
    // probabilistic banding
    QueryDef.sql("d15_simhash_pairs", Dedup.sqlSimhashPairs) { (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir))
    },
    QueryDef.sql("d6_edit_distance", Dedup.sqlEditDistancePairs) { (s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir))
    },
    // pairs -> clusters: connected components over the LSH pairs (the
    // oracle computes the exact recursive closure)
    QueryDef.sql("d8_dup_clusters", Dedup.sqlDupClusters) { (s, dir) =>
      Dedup.dupClusters(Tables.documents(s, dir))
    },
    // the persisted chain: cluster ONCE per corpus (memoized saveLarge
    // artifact), load the labels back — must hash-match d8 byte-for-byte,
    // proving the parquet round trip carries the full clustering (the
    // t14/s9 train-once gate applied to the dedup chain)
    QueryDef.sql("d11_dedup_from_saved", Dedup.sqlDupClusters) { (s, dir) =>
      Dedup.loadClusters(s, clusterLabelDir(s, dir))
    },
    // the dedup chain's business-value row: per-source token volume
    // before/after near-dup removal, from the SAVED labels alone
    QueryDef.sql("d20_dedup_savings", Dedup.sqlDedupSavings) { (s, dir) =>
      Dedup.dedupSavingsFrom(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // cross-doc exact-substring coverage (Lee et al. 2021's ExactSubstr
    // pass, hashed-window form): per doc, how many token positions sit in
    // a SubstrN-token run whose exact text also occurs in another doc
    QueryDef.sql("d12_substr_spans", Dedup.sqlSubstrSpans) { (s, dir) =>
      Dedup.substrSpans(Tables.documents(s, dir))
    },
    // incremental ExactSubstr: a new shard's duplicated-span coverage
    // against the SAVED distinct-gram index (plus within-shard repeats)
    // — the old corpus is never re-tokenized
    QueryDef.sql("d16_substr_shard", Dedup.sqlShardSubstrSpans) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val idxDir = artifactDir("substridx", dir)(tmp =>
        Dedup.buildAndSaveSubstrIndex(docs.filter(col("doc_id") < cut), tmp))
      Dedup.shardSubstrSpans(docs.filter(col("doc_id") >= cut),
        Dedup.loadSubstrIndex(s, idxDir))
    },
    // the ExactSubstr INTERVENTION (Lee et al.'s actual dedup step): cut
    // every cross-doc duplicated span d12 measures, re-emit the corpus as
    // surviving tokens — the span-cut corpus a pipeline ships
    QueryDef.sql("p22_substr_cut", Dedup.sqlSubstrCut) { (s, dir) =>
      Dedup.substrCut(Tables.documents(s, dir))
    },
    // incremental shard dedup: build the LSH index on the FIRST 4/5 of
    // the corpus (saved artifact: hashed shingle postings + band buckets
    // + stop list), then find the held-out shard's near-dup pairs —
    // cross-corpus AND within-shard — from the shard plus the index
    // alone, the old corpus never re-read. The s11 daily-ingest
    // economics applied to dedup: index once at corpus cost, dedup each
    // shard at shard cost
    QueryDef.sql("d13_lsh_shard_pairs", Dedup.sqlShardLshPairs) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val idxDir = artifactDir("lshindex", dir)(tmp =>
        Dedup.buildAndSaveLshIndex(docs.filter(col("doc_id") < cut), tmp))
      Dedup.shardLshPairs(docs.filter(col("doc_id") >= cut),
        Dedup.loadLshIndex(s, idxDir))
    },
    // the incremental story's last step: UPDATED cluster labels for
    // old ∪ shard from the saved label artifact + the shard's pairs —
    // the old corpus's connectivity rides in as its star edges (one
    // edge per clustered doc), so the re-clustering cost scales with
    // the CLUSTERED set and the shard, never the corpus. A shard doc
    // bridging two old clusters merges them, exactly as a fresh
    // clustering of the union would
    QueryDef.sql("d14_shard_clusters", Dedup.sqlShardUpdateClusters) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val idxDir = artifactDir("lshindex", dir)(tmp =>
        Dedup.buildAndSaveLshIndex(docs.filter(col("doc_id") < cut), tmp))
      val idx = Dedup.loadLshIndex(s, idxDir)
      val labDir = artifactDir("lshlabels", dir)(tmp =>
        Dedup.clusterIndexAndSave(idx, tmp))
      // the shard PASS (d13) runs once per corpus — this query measures
      // the label-update step itself: saved labels + saved pairs in,
      // bounded-round contraction out
      val pairsDir = artifactDir("shardpairs", dir)(tmp =>
        graft.sources.ModelStore.saveLarge(
          Dedup.shardLshPairs(docs.filter(col("doc_id") >= cut), idx), tmp))
      Dedup.shardUpdateClustersFrom(
        graft.sources.ModelStore.load(s, pairsDir),
        Dedup.loadClusters(s, labDir))
    },
    // clusters -> keep-list: the deduplicated corpus (non-canonical cluster
    // members anti-joined away) — the end product a pipeline materializes.
    // Derived from the SAVED labels: the LSH+CC chain runs once per corpus
    // (d11's artifact), not once per downstream reader — at 100 TB the
    // chain is the dominant cost and d9/d10 are cheap derivations of it
    QueryDef.sql("d9_dedup_corpus", Dedup.sqlDedupedCorpus) { (s, dir) =>
      Dedup.dedupedCorpusFrom(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // the dedup dashboard: per-source near-dup rate (who to drop at 100 TB)
    QueryDef.sql("d10_dup_rate", Dedup.sqlDupRateBySource) { (s, dir) =>
      Dedup.dupRateBySourceFrom(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // QUALITY-RANKED canonical per cluster: keep each near-dup cluster's
    // best-scoring member instead of d9's min-id — derived from the SAME
    // saved labels; the ranking window runs over the label frame only
    QueryDef.sql("p28_best_canonical", Dedup.sqlBestQualityCorpus) { (s, dir) =>
      Dedup.bestQualityCorpusFrom(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // cluster-size histogram: the dedup run's first sanity plot (heavy
    // tail = boilerplate leaked past the stop list); two bounded aggs
    // over the saved labels
    QueryDef.sql("d17_cluster_sizes", Dedup.sqlClusterSizeHistogram) { (s, dir) =>
      Dedup.clusterSizeHistogram(Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // p48's weights composed into p34's systematic draw: the
    // duplication-debiased sample — one corpus shuffle, integer-exact
    QueryDef.sql("p49_pps_soft_dedup", Curation.sqlPpsSoftDedup) { (s, dir) =>
      Curation.ppsSoftDedup(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // cluster coherence audit: exact Jaccard of every intra-cluster pair
    // from the SAME saved labels — how much transitive closure diluted
    // the clusters (worst pair + fraction >= tau, per cluster + corpus)
    QueryDef.sql("d23_cluster_coherence", Dedup.sqlClusterCoherence) { (s, dir) =>
      Dedup.clusterCoherence(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // deterministic fixed-size eval carve-out: Hamilton largest-remainder
    // quotas per source — sums to K exactly on any data
    QueryDef.sql("p52_eval_quotas", Curation.sqlEvalQuotas) { (s, dir) =>
      Curation.evalQuotas(Tables.documents(s, dir))
    },
    // composed right-to-be-forgotten sweep: ONE delete-list applied
    // across every saved artifact (LSH index, cluster labels, gram
    // index, BM25, ANN, KMV day sketches), each pruned by its own
    // deletion rule at shard cost and its derived stats re-derived from
    // the pruned artifact — the p41 composition rule applied to erasure
    QueryDef.sql("p53_rtbf_sweep",
      graft.operators.Forget.sqlRtbfSweep) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val events = Tables.events(s, dir)
      val emb = Tables.embeddings(s, dir)
      val idxDir = artifactDir("lshindex_full", dir)(tmp =>
        Dedup.buildAndSaveLshIndex(docs, tmp))
      val idx = Dedup.loadLshIndex(s, idxDir)
      val labDir = artifactDir("lshlabels_full", dir)(tmp =>
        Dedup.clusterIndexAndSave(idx, tmp))
      val subDir = artifactDir("substridx_full", dir)(tmp =>
        Dedup.buildAndSaveSubstrIndex(docs, tmp))
      val bmDir = artifactDir("bm25", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(docs, tmp))
      val annDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb, 64 / Similarity.PqBlocks, tmp))
      val kmvDir = artifactDir("kmvfull", dir)(tmp =>
        graft.sources.ModelStore.saveLarge(
          graft.operators.Sketches.dailyKmvSketchRows(events), s"$tmp/sketch"))
      val fpDir = artifactDir("imghash_full", dir)(tmp =>
        graft.sources.ModelStore.saveLarge(
          graft.operators.Multimodal.imageHashes(
            graft.operators.Multimodal.hashAssets(docs)), s"$tmp/hashes"))
      val lmDir = artifactDir("lm", dir)(tmp =>
        TextOps.trainAndSaveSurprisalModel(docs, tmp))
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(docs, tmp))
      graft.operators.Forget.rtbfSweep(docs, events, idx,
        Dedup.loadClusters(s, labDir),
        Dedup.loadSubstrIndex(s, subDir),
        TextOps.loadBm25Index(s, bmDir),
        Similarity.loadIvfPq(s, annDir),
        graft.sources.ModelStore.load(s, s"$kmvDir/sketch"),
        graft.sources.ModelStore.load(s, s"$fpDir/hashes"),
        TextOps.loadSurprisalModel(s, lmDir),
        TextOps.loadPositionalIndex(s, posDir))
    },
    // artifact manifest / health table: one row per saved artifact
    // (erasure class, size, coverage vs today's corpus, staleness
    // verdict) — the table the nightly job and the p53 sweep read
    // first; incremental artifacts (bm25_old, lm_old, ivfpq_inc — the
    // 4/5 fixtures) report stale, full-corpus artifacts report fresh
    QueryDef.sql("p54_artifact_manifest",
      graft.operators.Forget.sqlArtifactManifest) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val events = Tables.events(s, dir)
      val emb = Tables.embeddings(s, dir)
      val dcut = docs.count() * 4 / 5
      val ecut = emb.count() * 4 / 5
      val sub = 64 / Similarity.PqBlocks
      val idxDir = artifactDir("lshindex_full", dir)(tmp =>
        Dedup.buildAndSaveLshIndex(docs, tmp))
      val idx = Dedup.loadLshIndex(s, idxDir)
      val labDir = artifactDir("lshlabels_full", dir)(tmp =>
        Dedup.clusterIndexAndSave(idx, tmp))
      val subDir = artifactDir("substridx_full", dir)(tmp =>
        Dedup.buildAndSaveSubstrIndex(docs, tmp))
      val bmDir = artifactDir("bm25_old", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(docs.filter(col("doc_id") < dcut), tmp))
      val annDir = artifactDir("ivfpq_inc", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb.filter(col("vec_id") < ecut), sub, tmp))
      val kmvDir = artifactDir("kmvfull", dir)(tmp =>
        graft.sources.ModelStore.saveLarge(
          graft.operators.Sketches.dailyKmvSketchRows(events), s"$tmp/sketch"))
      val fpDir = artifactDir("imghash_full", dir)(tmp =>
        graft.sources.ModelStore.saveLarge(
          graft.operators.Multimodal.imageHashes(
            graft.operators.Multimodal.hashAssets(docs)), s"$tmp/hashes"))
      val lmDir = artifactDir("lm_old", dir)(tmp =>
        TextOps.trainAndSaveSurprisalModel(docs.filter(col("doc_id") < dcut), tmp))
      val posDir = artifactDir("posidx_old", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(
          docs.filter(col("doc_id") < dcut), tmp))
      graft.operators.Forget.artifactManifest(docs, events, emb, idx,
        Dedup.loadClusters(s, labDir),
        Dedup.loadSubstrIndex(s, subDir),
        TextOps.loadBm25Index(s, bmDir),
        Similarity.loadIvfPq(s, annDir),
        graft.sources.ModelStore.load(s, s"$kmvDir/sketch"),
        graft.sources.ModelStore.load(s, s"$fpDir/hashes"),
        TextOps.loadSurprisalModel(s, lmDir),
        TextOps.loadPositionalIndex(s, posDir))
    },
    // per-source DATASHEET (Gebru et al. 2018): the release table —
    // volume, mean quality, language mix, dup rate from the SAVED
    // labels, contamination verdicts, mean surprisal — every column an
    // existing component's exact semantics, oracle-nested per source so
    // the published sheet can't drift from the gates that made the data
    QueryDef.sql("p55_datasheet", Curation.sqlDatasheet) { (s, dir) =>
      Curation.datasheet(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // SOFT dedup: 1/cluster-size sampling weights from the SAME saved
    // labels (SlimPajama-style downweighting instead of dropping) — the
    // dedup-aware size column p34's PPS draw takes; floored ppm integers
    QueryDef.sql("p48_soft_dedup_weights", Curation.sqlSoftDedupWeights) { (s, dir) =>
      Curation.softDedupWeights(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // cross-split near-dup leakage: clusters spanning train/val/test — the
    // split audit the dedup papers exist for; derived from the SAME saved
    // labels, aggregate keys on cluster id, no pair enumeration
    QueryDef.sql("p31_split_leakage", Dedup.sqlSplitLeakage) { (s, dir) =>
      Dedup.splitLeakage(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // the FIX for what p31 measures: split by the dup-cluster label's
    // hash, so cluster members share a split by construction; the
    // leak_free column re-derives the p31 verdict per group
    QueryDef.sql("p45_group_split", Dedup.sqlGroupSplit) { (s, dir) =>
      Dedup.groupSplit(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // repeated-shingle boilerplate score (hot shingles ARE the signal here)
    QueryDef.sql("t18_boilerplate", Dedup.sqlBoilerplateFraction) { (s, dir) =>
      Dedup.boilerplateFraction(Tables.documents(s, dir))
    },

    // regexp extraction (leading token; identical leftmost semantics in
    // Java regex and RE2 for this pattern class)
    QueryDef.sql("t6_regex",
      """SELECT regexp_extract(lower(trim(text)), '^[a-z]+') AS first_tok,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1 ORDER BY first_tok""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(regexp_extract(lower(trim(col("text"))), "^[a-z]+", 0).as("first_tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("first_tok"))
    },

    // -------- text analysis
    QueryDef.sql("t1_tokens",
      s"""SELECT doc_id, len(${graft.functions.Portable.sqlTokens("text")})::BIGINT AS n_tokens,
         |  length(text)::BIGINT AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"),
        TextOps.nTokens(col("text")).as("n_tokens"),
        org.apache.spark.sql.functions.length(col("text")).cast("bigint").as("n_chars"))
        .orderBy(col("doc_id"))
    },
    // BPE-ish pre-tokenizer count alongside the whitespace count
    QueryDef.sql("t7_bpe_tokens",
      s"""SELECT doc_id, ${TextOps.sqlBpeCount("text")} AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.bpeCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))
    },
    // learned BPE: the distributed trainer's merge table, and the corpus
    // tokenized with it (per-doc count + ordered token-id fingerprint)
    QueryDef.sql("t10_bpe_merges", Bpe.sqlLearnedMerges) { (s, dir) =>
      Bpe.learnedMerges(Tables.documents(s, dir))
    },
    QueryDef.sql("t11_bpe_apply", Bpe.sqlTokenize) { (s, dir) =>
      Bpe.tokenize(Tables.documents(s, dir))
    },
    QueryDef.sql("t12_bpe_vocab", Bpe.sqlVocabulary) { (s, dir) =>
      Bpe.vocabulary(Tables.documents(s, dir))
    },
    // tokenize from the MERGE TABLE alone (rank-ordered replay, no vocab):
    // the shippable-artifact path — must hash-match t11, proving the merge
    // list is a complete tokenizer
    QueryDef.sql("t16_bpe_merge_replay", Bpe.sqlTokenize) { (s, dir) =>
      Bpe.tokenizeViaMergeReplay(Tables.documents(s, dir))
    },
    // the Sennrich-faithful trainer mode: end-of-word marker in the
    // symbolization (boundary merges become distinct symbols)
    QueryDef.sql("t15_bpe_merges_marked", Bpe.sqlLearnedMergesMarked) { (s, dir) =>
      Bpe.learnedMergesMarked(Tables.documents(s, dir))
    },
    // train-once/apply-anywhere: persist the tokenizer (merges + vocab),
    // load it back, apply — must hash-match t11 byte-for-byte, proving the
    // saved artifact carries the full tokenization. The model dir is
    // MEMOIZED per corpus dir: training runs once per process (bench
    // warm-up), so timed passes measure what the query claims — load +
    // apply, not retrain — and repeat runs don't litter temp dirs
    QueryDef.sql("t14_bpe_apply_saved", Bpe.sqlTokenize) { (s, dir) =>
      val modelDir = artifactDir("bpe", dir)(tmp =>
        Bpe.trainAndSave(Tables.documents(s, dir), tmp))
      Bpe.tokenizeSaved(Tables.documents(s, dir), modelDir)
    },
    // unigram-LM surprisal (the CCNet-style perplexity quality filter with
    // an exactly-reproducible model)
    QueryDef.sql("t13_surprisal", TextOps.sqlUnigramSurprisal) { (s, dir) =>
      TextOps.unigramSurprisal(Tables.documents(s, dir))
    },
    // tokenizer fertility/compression per language — the standard
    // tokenizer-eval table (per-language token cost of the trained BPE)
    QueryDef.sql("t17_fertility", Bpe.sqlFertility) { (s, dir) =>
      Bpe.fertility(Tables.documents(s, dir))
    },
    // bigram-LM surprisal — charges improbable TRANSITIONS (one Markov
    // order up from t13, toward the CCNet KenLM filter)
    QueryDef.sql("t19_bigram_surprisal", TextOps.sqlBigramSurprisal) { (s, dir) =>
      TextOps.bigramSurprisal(Tables.documents(s, dir))
    },
    // interpolated bigram→unigram backoff (Jelinek-Mercer) — an unseen
    // bigram no longer floors at the flat add-one penalty; the next step
    // from t19 toward the CCNet KenLM filter
    QueryDef.sql("t20_interp_surprisal", TextOps.sqlInterpolatedSurprisal) { (s, dir) =>
      TextOps.interpolatedSurprisal(Tables.documents(s, dir))
    },
    // score from the PERSISTED LM (counts + totals + frozen band edges):
    // train once per corpus (memoized artifact), load, score — must
    // hash-match t13 byte-for-byte (the t14/d11/s9 train-once gate
    // applied to the surprisal model; this same artifact is what lets
    // the streaming curation gate apply the p20 band per row)
    QueryDef.sql("t21_surprisal_from_saved", TextOps.sqlUnigramSurprisal) { (s, dir) =>
      val lmDir = artifactDir("lm", dir)(tmp =>
        TextOps.trainAndSaveSurprisalModel(Tables.documents(s, dir), tmp))
      TextOps.unigramSurprisalFromSaved(Tables.documents(s, dir),
        TextOps.loadSurprisalModel(s, lmDir))
    },
    // per-source drift report: every doc scored under YESTERDAY'S saved
    // LM vs the current full-corpus model, rolled up per source — the
    // monitoring table that says whether the saved gate artifacts are
    // still valid for today's crawl
    QueryDef.sql("p23_drift_report", TextOps.sqlSurprisalDrift) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val dirA = artifactDir("lm_old", dir)(tmp =>
        TextOps.trainAndSaveSurprisalModel(docs.filter(col("doc_id") < cut), tmp))
      TextOps.surprisalDrift(docs, TextOps.loadSurprisalModel(s, dirA))
    },
    // Stupid-Backoff trigram surprisal (Brants et al. 2007) — the next
    // KenLM step after t20: highest attested channel wins, fixed α=0.4
    QueryDef.sql("t22_sb_surprisal", TextOps.sqlStupidBackoffSurprisal) { (s, dir) =>
      TextOps.stupidBackoffSurprisal(Tables.documents(s, dir))
    },
    // Okapi BM25 top-k retrieval: inverted index in one corpus pass,
    // postings scan filtered to the query terms, order-free decimal sum
    QueryDef.sql("t31_bm25_topk", TextOps.sqlBm25TopK) { (s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir))
    },
    // the same query served from the PERSISTED index (postings + lengths
    // + stats + totals saved tonight, loaded tomorrow) — must hash-match
    // t31 (the train-once gate applied to retrieval)
    QueryDef.sql("t32_bm25_from_saved", TextOps.sqlBm25TopK) { (s, dir) =>
      val bmDir = artifactDir("bm25", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(Tables.documents(s, dir), tmp))
      TextOps.bm25FromIndex(TextOps.loadBm25Index(s, bmDir))
    },
    // serve-time cost budget ENFORCED (t59): each request stripped to
    // its budgeted term set (rarest-first under df-cost <= corpus size)
    // before the seek — a stopword-heavy request degrades to its
    // informative terms; the dropped hot terms never reach the postings
    // IN-pushdown, so their row groups are never opened
    QueryDef.sql("t59_bm25_budgeted",
      TextOps.sqlBm25ServeBudgeted(Bm25BudgetBatch)) { (s, dir) =>
      val bmDir = artifactDir("bm25", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(Tables.documents(s, dir), tmp))
      import s.implicits._
      TextOps.bm25ServeBatchBudgeted(
        Bm25BudgetBatch.toDF("query_id", "terms"),
        TextOps.loadBm25Index(s, bmDir))
    },
    // the budget walk's audit table (t60): per (request, term) price,
    // running total in keep order, and the keep/drop verdict — WHY a
    // request was degraded; t59's kept set is exactly this table's
    // kept slice (by construction — one shared walk)
    QueryDef.sql("t60_request_costs",
      TextOps.sqlBm25RequestCosts(Bm25BudgetBatch)) { (s, dir) =>
      val bmDir = artifactDir("bm25", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(Tables.documents(s, dir), tmp))
      import s.implicits._
      TextOps.bm25RequestCosts(
        Bm25BudgetBatch.toDF("query_id", "terms"),
        TextOps.loadBm25Index(s, bmDir))
    },
    // the budget's recall honesty report on the text side (t62, s23's
    // twin — price t55, enforce t59, audit t60, MEASURE here): per
    // request, kept/dropped terms, posting volume each side represents,
    // and |budgeted top-k ∩ plain top-k| / k vs the un-budgeted serve
    QueryDef.sql("t62_budget_recall",
      TextOps.sqlBm25BudgetRecall(Bm25BudgetBatch)) { (s, dir) =>
      val bmDir = artifactDir("bm25", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(Tables.documents(s, dir), tmp))
      import s.implicits._
      TextOps.bm25BudgetRecall(
        Bm25BudgetBatch.toDF("query_id", "terms"),
        TextOps.loadBm25Index(s, bmDir))
    },
    // Cavnar-Trenkle n-gram language ID: trained per-language trigram
    // rank profiles (broadcast), out-of-place distance per doc, argmin
    QueryDef.sql("t37_ct_langid", TextOps.sqlCtLangId) { (s, dir) =>
      TextOps.ctLangId(Tables.documents(s, dir))
    },
    // sentence segmentation stats: per-row array expressions only —
    // no explode, no shuffle beyond the terminal sort
    QueryDef.sql("t38_sentence_stats", TextOps.sqlSentenceStats) { (s, dir) =>
      TextOps.sentenceStats(Tables.documents(s, dir))
    },
    // adjacency collocations: q27's PMI over the token stream — per-row
    // bigram arrays (no position self-join), integer counts, one double
    // log2 per pair, bounded top-K
    QueryDef.sql("t39_collocations", TextOps.sqlCollocations) { (s, dir) =>
      TextOps.collocations(Tables.documents(s, dir))
    },
    // UNIGRAM-LM TOKENIZER (hard-EM Viterbi, Kudo 2018 variant): the
    // top-down tokenizer next to BPE's bottom-up merges — integer
    // fixed-point scores make the DP exactly replayable; all per-word
    // work is a fold, the vocabulary rides as one bounded map column
    QueryDef.sql("t43_unigram_vocab",
      graft.operators.Unigram.sqlUnigramVocab) { (s, dir) =>
      graft.operators.Unigram.unigramVocab(Tables.documents(s, dir))
    },
    // unigram tokenizer fertility from the SAVED model (t14/t17's twin
    // for the unigram family): train on the first 4/5, persist, tokenize
    // everything — the compression metric tokenizers are graded by
    QueryDef.sql("t44_unigram_fertility",
      graft.operators.Unigram.sqlUnigramFertility) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val mDir = artifactDir("unigram", dir)(tmp =>
        graft.operators.Unigram.trainAndSaveUnigram(
          docs.filter(col("doc_id") < cut), tmp))
      graft.operators.Unigram.unigramFertility(docs,
        graft.operators.Unigram.loadUnigram(s, mDir))
    },
    // TextRank keywords: t39's bigram stream as an undirected graph,
    // q32's damped fixed-point PageRank rounds over it — centrality-based
    // keywords next to t5's TF-IDF and t36's RAKE
    QueryDef.sql("t42_textrank", graft.operators.Graph.sqlTextRank) { (s, dir) =>
      graft.operators.Graph.textRank(Tables.documents(s, dir))
    },
    // Heaps'-law vocabulary growth: first-bucket type attribution in
    // aggregate form, running sums over the bounded bucket domain
    QueryDef.sql("t40_heaps", TextOps.sqlHeapsCurve) { (s, dir) =>
      TextOps.heapsCurve(Tables.documents(s, dir))
    },
    // per-source vocabulary Jaccard via KMV sketches: d19's overlap
    // question asked of the lexicon — one distinct (source, token) pass,
    // sketch rows after
    QueryDef.sql("t41_vocab_overlap", Sketches.sqlVocabOverlap) { (s, dir) =>
      Sketches.vocabOverlap(Tables.documents(s, dir))
    },
    // RAKE keyword extraction: stopword-delimited phrase runs scored by
    // per-doc word degree/freq — wholly per-document, no corpus state
    QueryDef.sql("t36_rake_phrases", TextOps.sqlRakePhrases) { (s, dir) =>
      TextOps.rakePhrases(Tables.documents(s, dir))
    },
    // incremental index refresh: BM25 indexes trained independently on
    // the old 4/5 and the new 1/5 (saved artifacts) MERGE with one
    // vocabulary-sized df aggregation + pure unions, and serving from
    // the merge must hash-match the full-corpus t31 build — the index
    // never rescans yesterday's corpus
    QueryDef.sql("t34_bm25_merged", TextOps.sqlBm25TopK) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val dirA = artifactDir("bm25_old", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(docs.filter(col("doc_id") < cut), tmp))
      val dirB = artifactDir("bm25_shard", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(docs.filter(col("doc_id") >= cut), tmp))
      TextOps.bm25FromIndex(TextOps.mergeBm25Indexes(
        TextOps.loadBm25Index(s, dirA), TextOps.loadBm25Index(s, dirB)))
    },
    // phrase search: the positional-index query class BM25 can't
    // express — exact consecutive-token matches per doc, with adjacency
    // turned into an equi-join key by shifting each term's positions by
    // its phrase offset; one corpus pass, postings-sized joins
    QueryDef.sql("t47_phrase_search", TextOps.sqlPhraseSearch()) { (s, dir) =>
      TextOps.phraseSearch(Tables.documents(s, dir))
    },
    // proximity search: t47's sloppy sibling — ordered term pairs within
    // a token window; the position RANGE predicate rides the equi-key as
    // slop-width buckets (the w8 banded range join applied inside the
    // document), so a term-spammed doc can't own a pair blowup
    QueryDef.sql("t48_proximity_search",
      TextOps.sqlProximitySearch("window", "join")) { (s, dir) =>
      TextOps.proximitySearch(Tables.documents(s, dir), "window", "join")
    },
    // phrase search served from the SAVED positional index (the t32
    // rule applied to positions): occurrences persisted t-sorted once,
    // each phrase leg a pushed-down term seek — no explode, no corpus
    // pass at query time; must hash-match t47's in-lineage build
    QueryDef.sql("t49_phrase_from_saved", TextOps.sqlPhraseSearch()) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      TextOps.phraseFromIndex(TextOps.loadPositionalIndex(s, posDir))
    },
    // positional-index maintenance (the t34+t46 legs): two shard saves
    // merge by pure union (per-doc rows, no recount), compaction
    // rewrites the union through the same t-sorted contract as a fresh
    // save, and serving from the compacted artifact must hash-match the
    // full-corpus build
    QueryDef.sql("t50_pos_compacted", TextOps.sqlPhraseSearch()) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val dirA = artifactDir("posidx_old", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(docs.filter(col("doc_id") < cut), tmp))
      val dirB = artifactDir("posidx_shard", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(docs.filter(col("doc_id") >= cut), tmp))
      val cDir = artifactDir("posidx_compacted", dir)(tmp => {
        TextOps.compactAndSavePositionalIndex(TextOps.mergePositionalIndexes(
          TextOps.loadPositionalIndex(s, dirA),
          TextOps.loadPositionalIndex(s, dirB)), tmp)
        ()
      })
      TextOps.phraseFromIndex(TextOps.loadPositionalIndex(s, cDir))
    },
    // tombstoned positional serving (the t35/s13 rule): a delete-list
    // anti-filters the saved occurrences — a deleted doc can never match
    // a phrase again; must hash-match a fresh build on the survivors
    QueryDef.sql("t51_pos_deleted",
      TextOps.sqlPhraseSearchOver("doc_id % 7 <> 3")) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      TextOps.phraseFromIndex(TextOps.deleteFromPositionalIndex(
        TextOps.loadPositionalIndex(s, posDir), col("doc_id") % 7 === 3))
    },
    // proximity search served from the same saved index — both
    // positional query classes read one artifact
    QueryDef.sql("t52_proximity_from_saved",
      TextOps.sqlProximitySearch("window", "join")) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      TextOps.proximityFromIndex(
        TextOps.loadPositionalIndex(s, posDir), "window", "join")
    },
    // span-near (ordered k-term chains, each gap within the window —
    // Lucene's SpanNearQuery): t48's banded range join applied k-1
    // times, each surviving row a distinct chain prefix; served from
    // the same saved positional artifact with pushed-down term seeks
    QueryDef.sql("t53_spannear", TextOps.sqlSpanNearSearch()) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      TextOps.spanNearFromIndex(TextOps.loadPositionalIndex(s, posDir))
    },
    // span-near BATCH serving (the proximityServeBatch convention for
    // the general chain): a mixed-k, mixed-gap request batch answered in
    // one fixed-shape plan — kMax-1 banded steps, each query finishing
    // early at its own chain length, query_id riding every equi-key;
    // must hash-match running every request alone (the t53 chain form)
    QueryDef.sql("t54_spannear_served",
      TextOps.sqlSpanNearServeBatch(SpanNearBatch)) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      import s.implicits._
      TextOps.spanNearServeBatch(
        SpanNearBatch.toDF("query_id", "terms", "gap"),
        TextOps.loadPositionalIndex(s, posDir))
    },
    // hot-term serving honesty table (the d18/s10 pattern for the
    // term-seek path): per df-decile posting volume + the worst
    // single-term serve cost, with the serve-time stop-candidate count
    // (df > corpus/5) — the table an operator reads before wiring a
    // request stream to the index; deciles ride the distributed ntile
    QueryDef.sql("t55_term_cost_deciles", TextOps.sqlTermCostDeciles) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      TextOps.termCostDeciles(
        TextOps.loadPositionalIndex(s, posDir), Tables.documents(s, dir))
    },
    // unordered co-occurrence windows (Lucene's unordered SpanNear, IR's
    // WITHIN): starts whose window contains every term in any order —
    // the coverage trick, no pair join at all; completes the positional
    // family's ordered/unordered pair, served from the same artifact
    QueryDef.sql("t57_cooc_window", TextOps.sqlCoocSearchFull()) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      TextOps.coocFromIndex(TextOps.loadPositionalIndex(s, posDir))
    },
    // co-occurrence BATCH serving: mixed term-counts and windows in ONE
    // fixed-shape plan (the request's win rides the explode, its
    // distinct-term count rides the coverage test); must hash-match
    // running every request alone
    QueryDef.sql("t58_cooc_served",
      TextOps.sqlCoocServeBatch(CoocBatch)) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      import s.implicits._
      TextOps.coocServeBatch(
        CoocBatch.toDF("query_id", "terms", "win"),
        TextOps.loadPositionalIndex(s, posDir))
    },
    // the actionable stop list behind t55's policy: every term over the
    // df threshold (corpus/5), worst first — the table an upstream
    // request-stripper loads; inherently tiny at any corpus size
    QueryDef.sql("t56_stop_candidates", TextOps.sqlServingStopCandidates) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      TextOps.servingStopCandidates(
        TextOps.loadPositionalIndex(s, posDir), Tables.documents(s, dir))
    },
    // the hot-term gate's pricing table (t61): per request of the t54
    // batch, every t56 stop-candidate leg it touches with the posting
    // volume ONE such leg drags through each chain join step — what the
    // online hot-term guard hands the operator on refusal, as an
    // oracle-gated batch surface
    QueryDef.sql("t61_stop_legs",
      TextOps.sqlPositionalStopLegs(
        SpanNearBatch.map { case (q, ts, _) => (q, ts) })) { (s, dir) =>
      val posDir = artifactDir("posidx", dir)(tmp =>
        TextOps.trainAndSavePositionalIndex(Tables.documents(s, dir), tmp))
      import s.implicits._
      TextOps.positionalStopLegs(
        SpanNearBatch.toDF("query_id", "terms", "gap"),
        TextOps.servingStopCandidates(
          TextOps.loadPositionalIndex(s, posDir), Tables.documents(s, dir)))
    },
    // index compaction: the merged index re-written through the same
    // range-partition-by-term contract as a fresh save, restoring the
    // tight per-file [min_t, max_t] footers the index-seek serving path
    // skips by — pure data movement (no re-tokenize, no recount), and
    // serving from the compacted artifact must hash-match the
    // full-corpus build
    QueryDef.sql("t46_bm25_compacted", TextOps.sqlBm25TopK) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val dirA = artifactDir("bm25_old", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(docs.filter(col("doc_id") < cut), tmp))
      val dirB = artifactDir("bm25_shard", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(docs.filter(col("doc_id") >= cut), tmp))
      val cDir = artifactDir("bm25_compacted", dir)(tmp => {
        TextOps.compactAndSaveBm25Index(TextOps.mergeBm25Indexes(
          TextOps.loadBm25Index(s, dirA), TextOps.loadBm25Index(s, dirB)), tmp)
        ()
      })
      TextOps.bm25FromIndex(TextOps.loadBm25Index(s, cDir))
    },
    // tombstoned retrieval serving: a delete-list anti-filters the saved
    // index's per-doc tables, df/totals re-derive from the pruned index
    // (one vocab-sized agg, no re-tokenization) — must hash-match a
    // fresh build on the survivors
    QueryDef.sql("t35_bm25_deleted",
      TextOps.sqlBm25TopKOver("doc_id % 7 <> 3")) { (s, dir) =>
      val bmDir = artifactDir("bm25", dir)(tmp =>
        TextOps.trainAndSaveBm25Index(Tables.documents(s, dir), tmp))
      TextOps.bm25FromIndex(TextOps.deleteFromBm25Index(
        TextOps.loadBm25Index(s, bmDir), col("doc_id") % 7 === 3))
    },
    // hybrid retrieval: BM25 and dense cosine top-k fused by reciprocal
    // rank fusion — all work inside the two index-pruned towers, the
    // fusion is a full-outer join of two k-row lists
    QueryDef.sql("t33_hybrid_rrf", TextOps.sqlHybridRrf) { (s, dir) =>
      TextOps.hybridRrf(Tables.documents(s, dir), Tables.embeddings(s, dir))
    },
    // incremental LM update: two models trained independently (old 4/5,
    // shard 1/5 — saved artifacts) MERGE with one vocabulary-sized
    // aggregation, and scoring from the merged model must hash-match
    // t13's full-corpus train — the count-additivity proof that daily
    // LM refresh never re-counts the old corpus
    QueryDef.sql("t24_lm_merged", TextOps.sqlUnigramSurprisal) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val dirA = artifactDir("lm_old", dir)(tmp =>
        TextOps.trainAndSaveSurprisalModel(docs.filter(col("doc_id") < cut), tmp))
      val dirB = artifactDir("lm_shard", dir)(tmp =>
        TextOps.trainAndSaveSurprisalModel(docs.filter(col("doc_id") >= cut), tmp))
      val merged = TextOps.mergeSurprisalModels(
        TextOps.loadSurprisalModel(s, dirA), TextOps.loadSurprisalModel(s, dirB), docs)
      TextOps.unigramSurprisalFromSaved(docs, merged)
    },
    // interpolated Kneser-Ney bigram surprisal — the canonical smoother
    // KenLM ships: absolute discount + CONTINUATION-count backoff
    // (frequent-but-predictable words get small backoff mass)
    QueryDef.sql("t23_kn_surprisal", TextOps.sqlKnSurprisal) { (s, dir) =>
      TextOps.knSurprisal(Tables.documents(s, dir))
    },

    // within-doc n-gram repetition ratio (Gopher/C4 repetition filter)
    QueryDef.sql("t8_repetition", TextOps.sqlRepetition) { (s, dir) =>
      TextOps.repetition(Tables.documents(s, dir))
    },
    // the Gopher CHARACTER-fraction repetition rules: top-bigram char
    // fraction + positional union coverage of duplicated 5-grams
    QueryDef.sql("t27_dup_coverage", TextOps.sqlRepetitionCoverage) { (s, dir) =>
      TextOps.repetitionCoverage(Tables.documents(s, dir))
    },
    QueryDef.sql("t2_quality", TextOps.sqlQuality) { (s, dir) =>
      TextOps.quality(Tables.documents(s, dir), col("text")).orderBy(col("doc_id"))
    },
    QueryDef.sql("t3_langid", TextOps.sqlLangId) { (s, dir) =>
      TextOps.langId(Tables.documents(s, dir), col("text")).orderBy(col("doc_id"))
    },
    // the t3 heuristic's confusion matrix vs the labeled lang column —
    // the honesty table for a score other gates consume
    QueryDef.sql("t29_lang_confusion", TextOps.sqlLangConfusion) { (s, dir) =>
      TextOps.langConfusion(Tables.documents(s, dir))
    },
    // the KenLM --prune knob priced: pruned bigram types vs the corpus
    // surprisal increase — one vocabulary-table pass per variant
    QueryDef.sql("t30_lm_prune", TextOps.sqlPrunedLmReport) { (s, dir) =>
      TextOps.prunedLmReport(Tables.documents(s, dir))
    },
    QueryDef.sql("t4_fingerprint", TextOps.sqlFingerprint) { (s, dir) =>
      TextOps.fingerprint(Tables.documents(s, dir), col("text")).orderBy(col("doc_id"))
    },
    QueryDef.sql("t5_tfidf", TextOps.sqlTfidfTopK(3)) { (s, dir) =>
      TextOps.tfidfTopK(Tables.documents(s, dir), 3)
    },
    // hashing-trick features (Weinberger et al.): fixed-dimensional,
    // vocabulary-free classifier input — no corpus-side state, so a new
    // shard featurizes identically with zero coordination
    QueryDef.sql("t25_hash_features", TextOps.sqlHashedFeatures) { (s, dir) =>
      TextOps.hashedFeatures(Tables.documents(s, dir))
    },
    // character-entropy garbage detector: binary-as-text scores high,
    // stuck-key/template spam scores low; shuffle-free, sorted-fold
    // deterministic cross-engine
    QueryDef.sql("t26_char_entropy", TextOps.sqlCharEntropy) { (s, dir) =>
      TextOps.charEntropy(Tables.documents(s, dir))
    },

    // -------- similarity search
    QueryDef.sql("s1_knn_brute", Similarity.sqlKnnBrute(10, 5)) { (s, dir) =>
      Similarity.knnBrute(Tables.embeddings(s, dir), 10, 5)
    },
    QueryDef.sql("s2_knn_ivf", Similarity.sqlKnnIvf(10, 3, 2)) { (s, dir) =>
      Similarity.knnIvf(Tables.embeddings(s, dir), 10, 3, 2)
    },
    QueryDef.sql("s3_embed_nn", Similarity.sqlNnAll) { (s, dir) =>
      Similarity.nnAll(Tables.embeddings(s, dir))
    },
    // IVF over TRAINED kmeans cells — the composed scale path (c2 ∘ s2)
    QueryDef.sql("s4_knn_ivf_kmeans", Similarity.sqlKnnIvfKmeans(10, 3, 4, 2, 2)) { (s, dir) =>
      Similarity.knnIvfKmeans(Tables.embeddings(s, dir), 10, 3, 4, 2, 2)
    },
    // FILTERED vector search (s12): top-k among label%2=0 only — the
    // metadata predicate pre-filters the probed cells' candidates (never
    // post-filters a fixed list, so k can't starve); nprobe widened 2→3
    // because the filter thins each cell
    QueryDef.sql("s12_knn_filtered",
      Similarity.sqlKnnIvfKmeans(10, 3, 4, 2, 3, "em.label % 2 = 0")) { (s, dir) =>
      Similarity.knnIvfKmeans(Tables.embeddings(s, dir), 10, 3, 4, 2, 3,
        col("label") % 2 === 0)
    },
    // SRP-LSH near-dup pairs — the banded-LSH alternative when no trained
    // quantizer exists (MinHash banding transplanted to embedding space)
    QueryDef.sql("s5_srp_lsh", Similarity.sqlSrpLshPairs) { (s, dir) =>
      Similarity.srpLshPairs(Tables.embeddings(s, dir))
    },
    // int8-quantized kNN with per-row recall vs the exact float top-k
    QueryDef.sql("s6_knn_quantized", Similarity.sqlKnnQuantized(10, 5)) { (s, dir) =>
      Similarity.knnQuantized(Tables.embeddings(s, dir), 10, 5)
    },
    // product-quantization ADC kNN: the corpus scanned as M code ids per
    // vector (the 100 TB embedding-memory story); recall vs the exact
    // top-k is pinned in ScaleOpsSpec
    QueryDef.sql("s7_knn_pq", Similarity.sqlKnnPq(10, 5, 64)) { (s, dir) =>
      Similarity.knnPq(Tables.embeddings(s, dir), 10, 5)
    },
    // the composed Faiss-style IVFADC index: coarse cells -> residual PQ
    // -> cell-pruned ADC scan -> exact rerank (the 100 TB ANN endgame)
    QueryDef.sql("s8_knn_ivfpq", Similarity.sqlKnnIvfPq(10, 5, 64)) { (s, dir) =>
      Similarity.knnIvfPq(Tables.embeddings(s, dir), 10, 5)
    },
    // serve from the PERSISTED index: build once per process, load the
    // four artifacts, query — must hash-match s8 byte-for-byte (the t14
    // train-once/apply-anywhere pattern applied to the ANN index; timed
    // passes measure the serving path, which is what the query claims)
    QueryDef.sql("s9_knn_ivfpq_saved", Similarity.sqlKnnIvfPq(10, 5, 64)) { (s, dir) =>
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(Tables.embeddings(s, dir), 64 / Similarity.PqBlocks, tmp))
      Similarity.ivfPqSearch(Tables.embeddings(s, dir),
        Similarity.loadIvfPq(s, idxDir), 64 / Similarity.PqBlocks, 10, 5)
    },
    // codebook utilization: per (block, code) usage over the saved codes
    // table against the full grid — dead codes and coarse blocks surface
    // as the retrain signal; one groupBy over the artifact
    QueryDef.sql("s17_pq_utilization", Similarity.sqlPqUtilization(64)) { (s, dir) =>
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(Tables.embeddings(s, dir), 64 / Similarity.PqBlocks, tmp))
      Similarity.pqUtilization(Similarity.loadIvfPq(s, idxDir))
    },
    // tombstoned serving (s13): a delete-list (vec_id % 7 = 3 stands in
    // for the tombstone table) anti-filtered from the SAVED index's
    // corpus tables — GDPR-style deletion without a rebuild; the two
    // quantizers are untouched, a deleted vector can never surface as a
    // candidate, and the rerank only sees ADC survivors
    QueryDef.sql("s13_knn_ivfpq_deleted",
      Similarity.sqlKnnIvfPq(10, 5, 64, "a.vec_id % 7 = 3")) { (s, dir) =>
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(Tables.embeddings(s, dir), 64 / Similarity.PqBlocks, tmp))
      val idx = Similarity.loadIvfPq(s, idxDir)
      val deleted = col("vec_id") % 7 === 3
      val pruned = Similarity.IvfPqIndex(idx.coarse,
        idx.cells.filter(!deleted), idx.pqCent, idx.codes.filter(!deleted))
      Similarity.ivfPqSearch(Tables.embeddings(s, dir), pruned,
        64 / Similarity.PqBlocks, 10, 5)
    },
    // MMR diversified re-rank: greedy λ·rel − (1−λ)·max-sim selection
    // over the bounded top-20 candidate set, run per query inside
    // mapGroups; oracle unrolls the 10 selection steps as chained CTEs
    QueryDef.sql("s14_mmr_rerank", Similarity.sqlMmrRerank()) { (s, dir) =>
      Similarity.mmrRerank(Tables.embeddings(s, dir))
    },
    // incremental shard ingest: train the index on the FIRST 4/5 of the
    // corpus (saved artifact), one-pass encode the held-out shard against
    // the saved quantizers (coarse assign -> residual -> nearest PQ code,
    // broadcast joins only — no retraining), serve over old ∪ new codes.
    // The daily-ingest economics: encode cost scales with the SHARD, the
    // s8 retrain with the corpus
    QueryDef.sql("s11_knn_ivfpq_shard",
      Similarity.sqlKnnIvfPqIncremental(10, 5, 64)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val sub = 64 / Similarity.PqBlocks
      val cut = emb.count() * 4 / 5
      val idxDir = artifactDir("ivfpq_inc", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb.filter(col("vec_id") < cut), sub, tmp))
      val idx = Similarity.loadIvfPq(s, idxDir)
      val (newCells, newCodes) =
        Similarity.encodeIvfPqShard(emb.filter(col("vec_id") >= cut), idx, sub)
      val combined = Similarity.IvfPqIndex(idx.coarse,
        idx.cells.unionByName(newCells), idx.pqCent,
        idx.codes.unionByName(newCodes))
      Similarity.ivfPqSearch(emb, combined, sub, 10, 5)
    },
    // ANN index compaction (t46's twin): shard encodes union new code
    // files next to the old ones, fragmenting the cell-clustered layout
    // the serving seek skips by; compaction rewrites the codes through
    // the same cell-sorted contract as a fresh save (no re-encoding, no
    // re-quantization) and serving from the compacted artifact must
    // hash-match serving from the fragmented union (= s11's oracle)
    QueryDef.sql("s18_ann_compacted",
      Similarity.sqlKnnIvfPqIncremental(10, 5, 64)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val sub = 64 / Similarity.PqBlocks
      val cut = emb.count() * 4 / 5
      val idxDir = artifactDir("ivfpq_inc", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb.filter(col("vec_id") < cut), sub, tmp))
      val cDir = artifactDir("ivfpq_compacted", dir)(tmp => {
        val idx = Similarity.loadIvfPq(s, idxDir)
        val (newCells, newCodes) =
          Similarity.encodeIvfPqShard(emb.filter(col("vec_id") >= cut), idx, sub)
        Similarity.compactAndSaveIvfPq(Similarity.IvfPqIndex(idx.coarse,
          idx.cells.unionByName(newCells), idx.pqCent,
          idx.codes.unionByName(newCodes)), tmp)
        ()
      })
      Similarity.ivfPqSearch(emb, Similarity.loadIvfPq(s, cDir), sub, 10, 5)
    },
    // index drift pre-flight: per-cell occupancy of the saved index vs a
    // new shard assigned against the saved centroids — the "when to
    // retrain the quantizer" table, strictly cheaper than the s11 encode
    QueryDef.sql("s15_ivf_drift", Similarity.sqlIvfDrift) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val sub = 64 / Similarity.PqBlocks
      val cut = emb.count() * 4 / 5
      val idxDir = artifactDir("ivfpq_inc", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb.filter(col("vec_id") < cut), sub, tmp))
      Similarity.ivfDriftReport(emb.filter(col("vec_id") >= cut),
        Similarity.loadIvfPq(s, idxDir))
    },
    // index repair: the hottest saved cell splits at the member median
    // along the max-variance dimension — balanced halves by construction,
    // integer moments + bounded-domain histogram median, no member sort
    QueryDef.sql("s16_ivf_split", Similarity.sqlIvfSplit) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val sub = 64 / Similarity.PqBlocks
      val cut = emb.count() * 4 / 5
      val idxDir = artifactDir("ivfpq_inc", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb.filter(col("vec_id") < cut), sub, tmp))
      Similarity.ivfMedianSplit(emb.filter(col("vec_id") < cut),
        Similarity.loadIvfPq(s, idxDir))
    },
    // the one-row table the nightly index job reads: drift monitoring +
    // split prediction + the retrain/split/serve decision
    QueryDef.sql("p46_index_decision", Similarity.sqlIndexNightlyDecision) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val sub = 64 / Similarity.PqBlocks
      val cut = emb.count() * 4 / 5
      val idxDir = artifactDir("ivfpq_inc", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb.filter(col("vec_id") < cut), sub, tmp))
      Similarity.indexNightlyDecision(emb.filter(col("vec_id") >= cut),
        emb.filter(col("vec_id") < cut), Similarity.loadIvfPq(s, idxDir))
    },
    // the nprobe tuning table: measured recall@k + ADC candidate volume
    // per probe width against the brute-force ground truth, served from
    // the SAME saved index as s9 — what an operator reads before setting
    // nprobe at scale (the s6 honesty pattern applied to the index)
    QueryDef.sql("s10_ann_recall",
      Similarity.sqlIvfPqRecallReport(10, 5, 64, Seq(1, 2, 4))) { (s, dir) =>
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(Tables.embeddings(s, dir), 64 / Similarity.PqBlocks, tmp))
      Similarity.ivfPqRecallReport(Tables.embeddings(s, dir),
        Similarity.loadIvfPq(s, idxDir), 64 / Similarity.PqBlocks, 10, 5, Seq(1, 2, 4))
    },
    // serve-time cost budget ENFORCED for ANN (s20, the t59 pattern on
    // the vector side): each request's probed cells stripped to the
    // occupancy-priced, nearest-first-kept set BEFORE the codes seek —
    // a request landing in pathologically crowded cells degrades to a
    // narrower effective nprobe; the dropped cell's row groups are
    // never opened (the pushdown is collected after the strip)
    QueryDef.sql("s20_ann_budgeted",
      Similarity.sqlIvfPqServeBudgeted(10, 5, 64)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb, 64 / Similarity.PqBlocks, tmp))
      Similarity.ivfPqServeBudgeted(emb.filter(col("vec_id") < 10), emb,
        Similarity.loadIvfPq(s, idxDir), 64 / Similarity.PqBlocks, 5)
    },
    // the ANN budget walk's audit table (s21, t60's twin): per
    // (request, probed cell) price from the saved index's occupancy,
    // running volume in nearest-first keep order, keep/drop verdict —
    // WHY a request was narrowed; s20's kept probes are exactly this
    // table's kept slice (one shared walk)
    QueryDef.sql("s21_probe_costs",
      Similarity.sqlAnnProbeCosts(10, 64)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb, 64 / Similarity.PqBlocks, tmp))
      Similarity.annProbeCosts(emb.filter(col("vec_id") < 10),
        Similarity.loadIvfPq(s, idxDir), 64 / Similarity.PqBlocks)
    },
    // the budget's recall honesty report (s23, the s10 pattern applied
    // to s20): per request — cells kept/dropped, candidate volume each
    // side represents, and measured |budgeted top-k ∩ plain top-k| / k;
    // a request with nothing dropped MUST report 1.0 (the shared-core
    // guarantee made visible), a narrowed one reports what the drop
    // actually cost
    QueryDef.sql("s23_budget_recall",
      Similarity.sqlAnnBudgetRecall(10, 5, 64)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(emb, 64 / Similarity.PqBlocks, tmp))
      Similarity.annBudgetRecall(emb.filter(col("vec_id") < 10), emb,
        Similarity.loadIvfPq(s, idxDir), 64 / Similarity.PqBlocks, 5)
    },
    // the budget's request-free dashboard (s22): per occupied cell of
    // the saved index — member count, corpus share in ppm, and the
    // over_budget flag (the cell ALONE exceeds a request's candidate
    // budget: crowding is throttling recall) — what an operator reads
    // before scheduling the s16 split or the s8 retrain
    QueryDef.sql("s22_cell_pressure",
      Similarity.sqlAnnCellPressure) { (s, dir) =>
      val idxDir = artifactDir("ivfpq", dir)(tmp =>
        Similarity.trainAndSaveIvfPq(Tables.embeddings(s, dir),
          64 / Similarity.PqBlocks, tmp))
      Similarity.annCellPressure(Similarity.loadIvfPq(s, idxDir))
    },

    // -------- event-time windows
    QueryDef.sql("w1_tumbling", EventWindows.sqlTumblingHourly) { (s, dir) =>
      EventWindows.tumblingHourly(Tables.events(s, dir))
    },
    QueryDef.sql("w2_session", EventWindows.sqlSessionize) { (s, dir) =>
      EventWindows.sessionize(Tables.events(s, dir))
    },
    // OHLC candle rollup: open/close via struct-ordered min/max — the
    // "no rank window for a top-1" idiom, pure partial aggregate
    QueryDef.sql("w14_ohlc", EventWindows.sqlOhlc) { (s, dir) =>
      EventWindows.ohlc(Tables.events(s, dir))
    },
    // hopping (sliding) windows: 1-hour windows every 15 min — each event
    // in exactly 4 overlapping windows; constant-factor explode collapsed
    // by the map-side combine before the exchange
    QueryDef.sql("w13_hopping", EventWindows.sqlHopping) { (s, dir) =>
      EventWindows.hopping(Tables.events(s, dir))
    },
    // trailing 1-HOUR time-RANGE frame per user at every event — the
    // frame a row frame can't express on irregular streams
    QueryDef.sql("w10_range_frame", EventWindows.sqlRangeFrame) { (s, dir) =>
      EventWindows.rangeFrame(Tables.events(s, dir))
    },
    QueryDef.sql("w3_latest_per_key", EventWindows.sqlLatestPerUser) { (s, dir) =>
      EventWindows.latestPerUser(Tables.events(s, dir))
    },
    // event-time AS-OF join (click -> latest preceding view, per user);
    // oracle is DuckDB's NATIVE ASOF JOIN, pinning the semantics
    QueryDef.sql("w7_asof", AsOf.sqlClickAttribution) { (s, dir) =>
      AsOf.clickAttribution(Tables.events(s, dir))
    },
    // banded range join (purchases within a window of the user's signup):
    // the time bucket is part of the equi-join key, so a hot user cannot
    // own an |L|x|R| pair blowup on one reducer
    QueryDef.sql("w8_range_join", RangeJoin.sqlSignupPurchases) { (s, dir) =>
      RangeJoin.signupPurchases(Tables.events(s, dir))
    },
    // w7 via the SEGMENTED as-of (hot-key cap: the window partitions on
    // (key, 6h bucket) with a carry-in pass) — same native-ASOF oracle,
    // proving the segmented path is a pure plan change
    QueryDef.sql("w9_asof_segmented", AsOf.sqlClickAttribution) { (s, dir) =>
      AsOf.clickAttributionSegmented(Tables.events(s, dir))
    },
    // 3-step funnel via CHAINED as-ofs: step 2 anchors at the matched
    // view's timestamp — an ordered sequence, not 3 existence checks
    QueryDef.sql("w16_funnel", AsOf.sqlFunnel) { (s, dir) =>
      AsOf.funnel(Tables.events(s, dir))
    },
    // cohort retention matrix: first-activity week x whole-week offset,
    // two partial-aggregated passes + a cohort-sized rollup
    QueryDef.sql("w17_retention", EventWindows.sqlRetention) { (s, dir) =>
      EventWindows.retention(Tables.events(s, dir))
    },
    // mergeable-sketch rollup: weekly distinct users from UNIONED daily
    // HLL sketches — union==direct pinned exactly, estimate within 5%
    // weekly value quantiles from merged daily fixed-bin histograms —
    // the mergeable-sketch rollup with an EXACT merge (integer counts)
    QueryDef.sql("w20_hist_quantiles", EventWindows.sqlHistogramQuantileRollup) { (s, dir) =>
      EventWindows.histogramQuantileRollup(Tables.events(s, dir))
    },
    QueryDef.sql("w18_hll_rollup", EventWindows.sqlHllRollup) { (s, dir) =>
      EventWindows.hllRollup(Tables.events(s, dir))
    },
    // SCD2 from a changelog: consecutive same-type runs per user collapse
    // to validity intervals — lag change-flag, running run number, one
    // bounded aggregate per run, valid_to off the runs table
    QueryDef.sql("w21_status_intervals", EventWindows.sqlStatusIntervals) { (s, dir) =>
      EventWindows.statusIntervals(Tables.events(s, dir))
    },
    // temporal dimension lookup: purchases labeled with the user's
    // status at that instant — the SCD lookup w21's intervals answer,
    // composed from the same as-of fold; no intervals materialized
    QueryDef.sql("w27_status_lookup", AsOf.sqlStatusLookup) { (s, dir) =>
      AsOf.statusLookup(Tables.events(s, dir))
    },
    // trailing-history anomaly z-score: each event vs its user's own last
    // hour (current excluded) — decimal frame sums make the variance
    // order-free, only the last divisions and sqrt run in double
    QueryDef.sql("w22_anomaly_z", EventWindows.sqlAnomalyZ) { (s, dir) =>
      EventWindows.anomalyZ(Tables.events(s, dir))
    },
    // trending items per day: one (day, item) map-side combine, top-K by
    // count with an adjacent-day growth delta — rank cut pushes partial
    QueryDef.sql("w23_trending", EventWindows.sqlTrendingItems) { (s, dir) =>
      EventWindows.trendingItems(Tables.events(s, dir))
    },
    // day-over-day churn: shifted self-join over distinct (day, user)
    // pairs, adjacent-day gated — pure equi-joins, one double division
    QueryDef.sql("w26_day_churn", EventWindows.sqlDayChurn) { (s, dir) =>
      EventWindows.dayChurn(Tables.events(s, dir))
    },
    // STL-lite decomposition of daily revenue: trend (7-obs centered MA)
    // + ISO-weekday seasonal + remainder, decimal-exact reductions —
    // one corpus groupBy, then day-bounded windows
    QueryDef.sql("w32_seasonal", EventWindows.sqlSeasonalDecompose) { (s, dir) =>
      EventWindows.seasonalDecompose(Tables.events(s, dir))
    },
    // Markov removal-effect attribution: journeys as an absorbing chain,
    // K-step fixed-point absorption per removal scenario — what a channel
    // CAUSES vs w25's positional split; corpus touched once, rounds run
    // on the states-squared table
    QueryDef.sql("w31_markov_attribution",
      graft.operators.Graph.sqlMarkovAttribution) { (s, dir) =>
      graft.operators.Graph.markovAttribution(Tables.events(s, dir))
    },
    // Kaplan-Meier survival over user lifetimes: censoring-aware
    // product-limit curve — one corpus shuffle to per-user spans, then
    // day-bounded prefix windows; ln-prefix product, zero-survivor pinned
    QueryDef.sql("w30_survival", EventWindows.sqlKmSurvival) { (s, dir) =>
      EventWindows.kmSurvival(Tables.events(s, dir))
    },
    // time-weighted average value per (user, day): lead-interval weights
    // in exact decimal micros, one double division — the TWAP to w14's OHLC
    QueryDef.sql("w28_twap", EventWindows.sqlTwap) { (s, dir) =>
      EventWindows.twap(Tables.events(s, dir))
    },
    // cohort LTV: revenue on the first-activity-week cohort grid with the
    // cumulative curve — micro ledger, window over (cohort x offset) only
    QueryDef.sql("w29_cohort_ltv", EventWindows.sqlCohortLtv) { (s, dir) =>
      EventWindows.cohortLtv(Tables.events(s, dir))
    },
    // KMV sketch persistence: saved per-day k-min rows + an arriving
    // shard re-minned — equals the from-scratch daily KMV because the
    // day key partitions the sides; the oracle replays from scratch
    QueryDef.sql("p47_kmv_refresh", Sketches.sqlDailyKmv) { (s, dir) =>
      val cut = Sketches.KmvRefreshCutDay
      val skDir = artifactDir("kmvdaily", dir) { tmp =>
        graft.sources.ModelStore.saveLarge(
          Sketches.dailyKmvSketchRows(
            Tables.events(s, dir).filter(
              date_format(to_date(col("ts")), "yyyy-MM-dd") < cut)),
          s"$tmp/sketch")
      }
      Sketches.kmvRefresh(
        graft.sources.ModelStore.load(s, s"$skDir/sketch"),
        Tables.events(s, dir).filter(
          date_format(to_date(col("ts")), "yyyy-MM-dd") >= cut))
    },
    // 7-day rolling DAU from merged daily KMV sketches: raw events reduce
    // to k hashes/day once; the rolling window is a 7-way fan-out + re-min
    // over sketch rows only. exact_dau7 is the declared exact baseline —
    // both columns deterministic, oracle replays both
    QueryDef.sql("w24_rolling_dau", Sketches.sqlRollingDau) { (s, dir) =>
      Sketches.rollingDau(Tables.events(s, dir))
    },
    // linear multi-touch attribution: banded-range candidate pairs,
    // per-purchase window normalizer, integer micro-currency ledger —
    // truncation-deterministic in both engines, 'direct' remainder anti-join
    QueryDef.sql("w25_multitouch", RangeJoin.sqlMultiTouch) { (s, dir) =>
      RangeJoin.multiTouch(Tables.events(s, dir))
    },
    // NEAREST as-of with tolerance (merge_asof direction='nearest'):
    // both directions read one sorted run — backward = running last,
    // forward = running first over the same window; no second exchange
    QueryDef.sql("w11_asof_nearest", AsOf.sqlClickNearestAttribution) { (s, dir) =>
      AsOf.clickNearestAttribution(Tables.events(s, dir))
    },
    // w11 via the SEGMENTED nearest path: symmetric carry-in/carry-out
    // over the bucket-summary table, windows partition (key, bucket) —
    // same oracle, pure plan change (the w9-vs-w7 relationship)
    // linear-interpolation as-of: each click's value lerped between its
    // user's bracketing views (one-sided clamps, exact-instant factor 0)
    QueryDef.sql("w19_interpolate", AsOf.sqlClickValueInterpolation) { (s, dir) =>
      AsOf.clickValueInterpolation(Tables.events(s, dir))
    },
    QueryDef.sql("w12_nearest_segmented", AsOf.sqlClickNearestAttribution) { (s, dir) =>
      AsOf.clickNearestSegmented(Tables.events(s, dir))
    },

    // -------- composed cleaning pipeline: the operators chained the way a
    // real corpus-prep job runs them — quality gate, then exact-dedup
    // representative selection, then language tag.
    QueryDef.sql("p1_clean_corpus",
      s"""WITH q AS (${graft.functions.Portable.sqlNoOrder(TextOps.sqlQuality)}),
         |keep AS (SELECT doc_id FROM q WHERE quality_score >= 0.15),
         |rep AS (SELECT min(d.doc_id) AS doc_id
         |        FROM documents d JOIN keep k ON d.doc_id = k.doc_id
         |        GROUP BY md5(lower(trim(d.text)))),
         |lang AS (${graft.functions.Portable.sqlNoOrder(TextOps.sqlLangId)})
         |SELECT r.doc_id, l.lang_pred
         |FROM rep r JOIN lang l ON l.doc_id = r.doc_id
         |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val keep = TextOps.quality(docs, col("text"))
        .filter(col("quality_score") >= 0.15).select(col("doc_id"))
      val kept = docs.join(keep, "doc_id")
      val rep = kept.groupBy(md5(lower(trim(col("text")))).as("k"))
        .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      TextOps.langId(docs, col("text"))
        .join(rep, "doc_id")
        .select(col("doc_id"), col("lang_pred"))
        .orderBy(col("doc_id"))
    },

    // -------- deterministic content-hash dataset split (train/val/test)
    QueryDef.sql("p2_dataset_split", TextOps.sqlDatasetSplit) { (s, dir) =>
      TextOps.datasetSplit(Tables.documents(s, dir))
    },

    // -------- curation: deterministic sampling, per-source caps,
    // benchmark decontamination (operators/Curation.scala)
    QueryDef.sql("p3_source_sample", Curation.sqlStratifiedSample) { (s, dir) =>
      Curation.stratifiedSample(Tables.documents(s, dir))
    },
    QueryDef.sql("p4_source_cap", Curation.sqlPerSourceCap) { (s, dir) =>
      Curation.perSourceCap(Tables.documents(s, dir))
    },
    // data repetition schedule: water-fill a token budget across sources
    // under per-source epoch caps — closed-form lambda over one window
    // pass, integer prefix sums, one double division per candidate
    QueryDef.sql("p44_epoch_schedule", Curation.sqlEpochSchedule) { (s, dir) =>
      Curation.epochSchedule(Tables.documents(s, dir))
    },
    // systematic PPS weighted sampling: guaranteed sample size, selection
    // probability exactly proportional to doc weight, pure integer
    // arithmetic — the sharded prefix sum + tiny carry table, one shuffle
    QueryDef.sql("p34_pps_sample", Curation.sqlPpsSample) { (s, dir) =>
      Curation.ppsSample(Tables.documents(s, dir))
    },
    // stratified systematic PPS: p34 per source stratum — every stratum
    // lands exactly its proportional sample, zero per-stratum variance
    QueryDef.sql("p40_pps_stratified", Curation.sqlPpsSampleStratified) { (s, dir) =>
      Curation.ppsSampleStratified(Tables.documents(s, dir))
    },
    QueryDef.sql("p5_decontaminate", Curation.sqlDecontaminate) { (s, dir) =>
      Curation.decontaminate(Tables.documents(s, dir))
    },
    // SURGICAL span-level decontamination: cut exactly the benchmark-
    // covered token positions, keep the clean remainder — the p22 span
    // cut retargeted at leakage
    QueryDef.sql("p39_decontam_cut", Curation.sqlDecontaminateCut) { (s, dir) =>
      Curation.decontaminateCut(Tables.documents(s, dir))
    },
    // bloom-filter decontamination (p5's scale path once the benchmark set
    // no longer broadcasts): 128 KB sketch literal, per-row probe, no join
    // — one-sided error, superset of the exact gate (no false negatives;
    // CurationSpec pins the superset relation per doc). The sketch is the
    // PORTABLE md5-window bloom, so the oracle rebuilds the identical
    // bits and the comparison is a full hash match — the last rows-only
    // query in the suite became oracle-gated with this construction
    QueryDef.sql("p29_bloom_decontam",
      Curation.sqlBloomDecontaminate) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Curation.bloomDecontaminate(docs, Curation.trainBenchmarkBloom(docs))
    },

    // -------- embedding-cosine near-dup pairs (IVF-cell blocked)
    QueryDef.sql("d7_embed_cosine_dup", Similarity.sqlCosineDupPairs) { (s, dir) =>
      Similarity.cosineDupPairs(Tables.embeddings(s, dir))
    },

    // -------- token chunking into overlapping training windows
    QueryDef.sql("p7_chunk", Curation.sqlChunk) { (s, dir) =>
      Curation.chunk(Tables.documents(s, dir))
    },

    // -------- corpus analysis: top n-grams, per-source accounting
    QueryDef.sql("t9_top_ngrams", TextOps.sqlTopNgrams) { (s, dir) =>
      TextOps.topNgrams(Tables.documents(s, dir))
    },
    QueryDef.sql("p9_corpus_stats", Curation.sqlCorpusStats) { (s, dir) =>
      Curation.corpusStats(Tables.documents(s, dir))
    },
    // rank-frequency (Zipf) health row: token/type counts, hapax share,
    // log-log OLS slope — the corpus-level language-shape smell test
    QueryDef.sql("t28_zipf", TextOps.sqlZipfReport) { (s, dir) =>
      TextOps.zipfReport(Tables.documents(s, dir))
    },
    // lexical diversity per source: TTR + Herdan's C (size-robust) —
    // the template-heaviness row next to t40's growth curve
    QueryDef.sql("t45_lexical_diversity", TextOps.sqlLexicalDiversity) { (s, dir) =>
      TextOps.lexicalDiversity(Tables.documents(s, dir))
    },

    // -------- temperature-scaled data-mixing weights over the source stats
    QueryDef.sql("p10_mixture", Curation.sqlMixtureWeights) { (s, dir) =>
      Curation.mixtureWeights(Tables.documents(s, dir))
    },
    // APPLY the mixture: deterministic content-hash downsample of each
    // source toward its p10 target share (binding source keeps all) —
    // the resampled keep-list a pipeline ships after picking a temperature
    QueryDef.sql("p19_mixture_resample", Curation.sqlMixtureResample) { (s, dir) =>
      Curation.mixtureResample(Tables.documents(s, dir))
    },

    // -------- concat-and-chunk sequence packing (sharded prefix sums)
    QueryDef.sql("p11_pack", Curation.sqlPackSequences) { (s, dir) =>
      Curation.packSequences(Tables.documents(s, dir))
    },

    // -------- token-budget subset selection (greedy by quality per shard)
    QueryDef.sql("p12_budget_select", Curation.sqlBudgetSelect) { (s, dir) =>
      Curation.budgetSelect(Tables.documents(s, dir))
    },

    // -------- packed-sequence segments (the loader-facing packing output)
    QueryDef.sql("p13_pack_segments", Curation.sqlPackSegments) { (s, dir) =>
      Curation.packSegments(Tables.documents(s, dir))
    },

    // -------- deterministic global training-order shuffle (seeded)
    QueryDef.sql("p14_shuffle_order", Curation.sqlShuffleOrder) { (s, dir) =>
      Curation.shuffleOrder(Tables.documents(s, dir))
    },
    // curriculum manifest: t13 difficulty, phase by corpus z-score
    // (decimal-exact moments, one broadcast scalar row), p14 order key
    QueryDef.sql("p42_curriculum", Curation.sqlCurriculum) { (s, dir) =>
      Curation.curriculum(Tables.documents(s, dir))
    },
    // incremental curriculum: today's shard scored under YESTERDAY'S
    // saved LM and phased on the FROZEN mu/sigma — shard cost only,
    // unseen tokens degrade to the add-one floor
    QueryDef.sql("p43_curriculum_shard", Curation.sqlCurriculumShard) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      val curDir = artifactDir("curriculum", dir)(tmp =>
        Curation.trainAndSaveCurriculum(docs.filter(col("doc_id") < cut), tmp))
      Curation.curriculumShard(docs.filter(col("doc_id") >= cut), s, curDir)
    },

    // -------- per-source adaptive quality gate (keep >= source median)
    QueryDef.sql("p15_quality_gate", Curation.sqlQualityGate) { (s, dir) =>
      Curation.qualityGate(Tables.documents(s, dir))
    },
    // the Gopher rule battery (Rae et al., table A1): per-rule verdicts so
    // a pipeline can audit WHICH rule rejected a document; shuffle-free —
    // the 100 TB shape is scan, project, write
    QueryDef.sql("p27_gopher_rules", TextOps.sqlGopherRules) { (s, dir) =>
      TextOps.gopherRules(Tables.documents(s, dir))
    },
    // the per-rule rejection histogram: the monitoring row a yield drop is
    // diagnosed from (one partial-aggregated pass to a single row)
    QueryDef.sql("p30_gopher_histogram", TextOps.sqlGopherHistogram) { (s, dir) =>
      TextOps.gopherHistogram(Tables.documents(s, dir))
    },
    // the curation FUNNEL: survivors per successive gate (gopher ->
    // manifest -> near-dup canonical -> decontaminated), each gate the
    // published standalone verdict — the corpus run's yield dashboard
    QueryDef.sql("p32_curation_funnel", Curation.sqlCurationFunnel) { (s, dir) =>
      Curation.curationFunnel(Tables.documents(s, dir),
        Dedup.loadClusters(s, clusterLabelDir(s, dir)))
    },
    // the approx scale twin: percentile_approx threshold, tolerance
    // verdict vs the exact median (the q13 -> q19 sketch relationship)
    QueryDef.sql("p16_quality_gate_approx", Curation.sqlQualityGateApprox) { (s, dir) =>
      Curation.qualityGateApprox(Tables.documents(s, dir))
    },
    // the graded decontamination report: per-doc benchmark-overlap
    // FRACTION + verdict (p5's boolean, made actionable)
    QueryDef.sql("p21_contamination_report", Curation.sqlContaminationReport) { (s, dir) =>
      Curation.contaminationReport(Tables.documents(s, dir))
    },
    // the CURATED MANIFEST: the full selection recipe in one plan —
    // quality floor + middle-surprisal band + boilerplate ceiling +
    // exact-dup canonical, with per-gate verdicts (the audit table)
    QueryDef.sql("p20_curated_manifest", Curation.sqlCuratedManifest) { (s, dir) =>
      Curation.curatedManifest(Tables.documents(s, dir))
    },
    // release-over-release manifest diff: per-gate pass counts on the
    // first-4/5 slice vs the full corpus — the keep-set drift dashboard
    // the composed daily-ingest report: one query over EVERY saved
    // artifact — updated labels, span coverage, semantic verdicts,
    // merged-LM totals, release diff — with the component oracles
    // nested verbatim (the p32 composition rule)
    QueryDef.sql("p41_daily_ingest", Curation.sqlDailyIngest) { (s, dir) =>
      dailyIngestBase(s, dir)
    },
    // p41 EXTENDED to the perceptual modalities (p56): the same
    // composed report plus one row per media shard-dedup leg (mm11
    // image, mm12 audio, mm13 video pairs) — one plan covering a
    // MULTIMODAL shard's full daily ingest, the component oracles
    // nested verbatim so the composite can't drift from the legs
    QueryDef.sql("p56_media_ingest", Curation.sqlDailyIngestFull) { (s, dir) =>
      // the base report and the three media legs build independent
      // artifacts/checkpoints at construction — overlap them (Par.run,
      // the dailyIngest rule one level up; artifactDir memoization is
      // atomic under concurrent first calls)
      val Seq(base, img, aud, vid) = graft.functions.Par.run(
        () => dailyIngestBase(s, dir),
        () => imageShardPairs(s, dir),
        () => audioShardPairs(s, dir),
        () => videoShardPairs(s, dir))
      Curation.dailyIngestFull(base, img, aud, vid)
    },
    QueryDef.sql("p36_manifest_diff", Curation.sqlManifestDiff) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cut = docs.count() * 4 / 5
      Curation.manifestDiff(docs.filter(col("doc_id") < cut), docs)
    },
    // SemDeDup: semantic dedup = k-means cells + within-cell cosine prune
    QueryDef.sql("p17_semdedup", Similarity.sqlSemDedup(4, 2, 0.4)) { (s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), 4, 2, 0.4)
    },
    // incremental SemDeDup: the shard enters the SAVED clustering
    // (coarse assign from persisted centroids — no Lloyd re-iteration)
    // and each shard vector is pruned against lower-id cell co-members
    // old ∪ new — the semantic leg of the shard-ingest triad
    QueryDef.sql("p24_semdedup_shard", Similarity.sqlSemDedupShard(4, 2, 0.4)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cut = emb.count() * 4 / 5
      val kmDir = artifactDir("km_old", dir)(tmp =>
        Similarity.trainAndSaveKmeans(emb.filter(col("vec_id") < cut), 4, 2, tmp))
      Similarity.semDedupShard(emb, cut,
        graft.sources.ModelStore.load(s, s"$kmDir/centroids"),
        graft.sources.ModelStore.load(s, s"$kmDir/cells"), 0.4)
    },
    // DSIR: hashed-unigram importance weights vs the lang='en' target
    QueryDef.sql("p18_dsir", Curation.sqlDsirWeights) { (s, dir) =>
      Curation.dsirWeights(Tables.documents(s, dir))
    },
    // the LEARNED quality filter: logistic regression over per-row
    // features, IRLS-trained distributed (aggregate passes + driver
    // Cholesky solve, oracle-replayed) — the GPT-3-style classifier gate
    QueryDef.sql("p25_quality_classifier",
      graft.operators.Classifier.sqlQualityClassifier) { (s, dir) =>
      graft.operators.Classifier.qualityClassifier(Tables.documents(s, dir))
    },
    // score from the PERSISTED weights (train once per corpus, memoized)
    // — must hash-match p25 byte-for-byte: the t21/t14 artifact gate
    // applied to the learned filter; scoring is stream-ready (pure
    // per-row expressions, no training scans)
    QueryDef.sql("p26_classifier_from_saved",
      graft.operators.Classifier.sqlQualityClassifier) { (s, dir) =>
      val wDir = artifactDir("qclassifier", dir)(tmp =>
        { graft.operators.Classifier.trainAndSave(Tables.documents(s, dir), tmp); () })
      graft.operators.Classifier.scoreWith(Tables.documents(s, dir),
        graft.operators.Classifier.loadWeights(s, wDir))
    },
    // calibration (reliability) table over the saved classifier's scores:
    // fixed-width probability bins (per-row expression — never an ntile
    // global sort), observed proxy-positive rate vs mean predicted p
    QueryDef.sql("p33_calibration",
      graft.operators.Classifier.sqlCalibration) { (s, dir) =>
      val wDir = artifactDir("qclassifier", dir)(tmp =>
        { graft.operators.Classifier.trainAndSave(Tables.documents(s, dir), tmp); () })
      graft.operators.Classifier.calibrationReport(
        graft.operators.Classifier.scoreWith(Tables.documents(s, dir),
          graft.operators.Classifier.loadWeights(s, wDir)))
    },

    // precision/recall operating table over the saved classifier's
    // scores: one aggregate pass, all thresholds as parallel columns
    QueryDef.sql("p35_threshold_sweep",
      graft.operators.Classifier.sqlThresholdSweep) { (s, dir) =>
      val wDir = artifactDir("qclassifier", dir)(tmp =>
        { graft.operators.Classifier.trainAndSave(Tables.documents(s, dir), tmp); () })
      graft.operators.Classifier.thresholdSweep(
        graft.operators.Classifier.scoreWith(Tables.documents(s, dir),
          graft.operators.Classifier.loadWeights(s, wDir)))
    },

    // -------- sub-document (segment/paragraph) dedup
    QueryDef.sql("p8_segment_dedup", Curation.sqlSegmentDedup) { (s, dir) =>
      Curation.segmentDedup(Tables.documents(s, dir))
    },

    // -------- PII scrub (emails/phones masked + counted)
    QueryDef.sql("p6_redact", TextOps.sqlRedact) { (s, dir) =>
      TextOps.redact(Tables.documents(s, dir))
    },

    // -------- deterministic distributed k-means (2 Lloyd iterations)
    QueryDef.sql("c2_kmeans", Similarity.sqlKmeans(4, 2)) { (s, dir) =>
      Similarity.kmeans(Tables.embeddings(s, dir), 4, 2)
    },
    // centroid silhouette: are the chosen k's cells SEPARATED (c7 says
    // only how WCSS falls) — broadcast all-centroid distances per vector,
    // decimal-exact per-cell means; the scalable (non-pairwise) form
    QueryDef.sql("c11_silhouette", Similarity.sqlSilhouette(4, 2)) { (s, dir) =>
      Similarity.silhouette(Tables.embeddings(s, dir), 4, 2)
    },
    // the elbow table: WCSS per candidate k — the tuning row every
    // cell-blocked operator's k is picked from
    QueryDef.sql("c7_kmeans_elbow", Similarity.sqlKmeansElbow) { (s, dir) =>
      Similarity.kmeansElbow(Tables.embeddings(s, dir))
    },
    // inter-source MinHash union-sketch overlap matrix: which sources
    // share content, at sources-squared cost, before any pair pass
    QueryDef.sql("d19_source_overlap", Dedup.sqlSourceOverlap) { (s, dir) =>
      Dedup.sourceOverlap(Tables.documents(s, dir))
    },

    // -------- embedding centroid aggregate (element-wise partition stats)
    QueryDef.sql("c1_centroids",
      """SELECT label, i::INT AS i, round(avg((embedding::DOUBLE[])[i]), 6) AS c
        |FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
        |WHERE i <= 8 GROUP BY 1, 2 ORDER BY label, i""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"),
          posexplode(org.apache.spark.sql.functions.slice(
            transform(col("embedding"), x => x.cast("double")), 1, 8)).as(Seq("i0", "x")))
        .groupBy(col("label"), (col("i0") + 1).cast("int").as("i"))
        .agg(round(avg(col("x")), 6).as("c"))
        .orderBy(col("label"), col("i"))
    },

    // -------- embedding whitening: one-pass covariance + driver Cholesky
    // + broadcast-literal projection (the decorrelation step between
    // k-means cells and int8 quantization)
    QueryDef.sql("c3_gram", Whiten.sqlGram) { (s, dir) =>
      Whiten.gram(Tables.embeddings(s, dir))
    },
    QueryDef.sql("c4_whiten", Whiten.sqlWhiten) { (s, dir) =>
      Whiten.whiten(Tables.embeddings(s, dir))
    },
    // covariance-aware embedding outliers: md2 = squared norm of the
    // whitened vector — c4's machinery as a curation gate; codegen
    // scoring, TakeOrdered top-K, no global window
    QueryDef.sql("c10_mahalanobis", Whiten.sqlMahalanobis) { (s, dir) =>
      Whiten.mahalanobis(Tables.embeddings(s, dir))
    },
    // dominant principal component by fixed power iteration over the
    // rounded covariance — corpus touched once, iteration driver-side,
    // oracle replays the identical IEEE sequence
    QueryDef.sql("c6_pca_power", Whiten.sqlPcaPower) { (s, dir) =>
      Whiten.pcaPower(Tables.embeddings(s, dir))
    },
    // top-2 spectrum: c6 plus one Hotelling deflation — the anisotropy
    // diagnostic; corpus cost is still the single gram pass
    QueryDef.sql("c8_pca_top2", Whiten.sqlPcaTop2) { (s, dir) =>
      Whiten.pcaTop2(Tables.embeddings(s, dir))
    },

    // -------- int8 quantization error budget per coarse cell
    QueryDef.sql("c5_quant_error", Similarity.sqlQuantError) { (s, dir) =>
      Similarity.quantError(Tables.embeddings(s, dir))
    },

    // -------- multimodal (binary columns; decode is a deterministic stub)
    QueryDef.sql("mm1_features", Multimodal.sqlFeatures) { (s, dir) =>
      import org.apache.spark.sql.functions.round
      Multimodal.extractFeatures(Multimodal.assets(Tables.documents(s, dir)))
        .select(col("asset_id"),
          round(col("f0"), 8).as("f0"), round(col("f1"), 8).as("f1"),
          round(col("f2"), 8).as("f2"), round(col("f3"), 8).as("f3"))
        .orderBy(col("asset_id"))
    },
    QueryDef.sql("mm2_frame_sample", Multimodal.sqlSampleFrames(10)) { (s, dir) =>
      Multimodal.sampleFrames(Multimodal.assets(Tables.documents(s, dir)), 10)
    },
    QueryDef.sql("mm3_audio_windows", Multimodal.sqlAudioWindows) { (s, dir) =>
      Multimodal.audioWindows(Multimodal.assets(Tables.documents(s, dir)))
    },
    // REAL pixel resize: block-average thumbnail of the decoded image
    // through the batched kernel seam — integer-exact, oracle-replayed
    QueryDef.sql("mm4_thumbnail", Multimodal.sqlThumbnails) { (s, dir) =>
      Multimodal.thumbnails(Multimodal.assets(Tables.documents(s, dir)), 1, 1)
    },
    // REAL audio decimation: floor-mean block downsample of decoded PCM
    // through the same kernel — floorDiv pinned against the oracle's //
    QueryDef.sql("mm5_downsample", Multimodal.sqlDownsampleAudio) { (s, dir) =>
      Multimodal.downsampleAudio(Multimodal.assets(Tables.documents(s, dir)))
    },
    // per-channel pixel histograms: the all-dark/blown-out image gate,
    // counted inside the kernel — bounded scalar rows only
    QueryDef.sql("mm6_histogram", Multimodal.sqlChannelHistogram) { (s, dir) =>
      Multimodal.channelHistogram(Multimodal.assets(Tables.documents(s, dir)))
    },
    // perceptual image near-dup: decode -> 64-bit aHash in the kernel,
    // then d15's banded-Hamming pigeonhole — exact within radius 3
    QueryDef.sql("mm7_image_near_dup", Multimodal.sqlImageHashPairs) { (s, dir) =>
      Multimodal.imageHashPairs(Multimodal.hashAssets(Tables.documents(s, dir)))
    },
    // perceptual audio near-dup: RIFF walk -> sign-of-energy-delta
    // fingerprint in the kernel, same banded-Hamming pairing as mm7 —
    // volume-invariant by construction
    QueryDef.sql("mm8_audio_near_dup", Multimodal.sqlAudioHashPairs) { (s, dir) =>
      Multimodal.audioHashPairs(Multimodal.audioHashAssets(Tables.documents(s, dir)))
    },
    // video near-dup: reel walk -> per-frame aHash, inverted index on
    // (position, frame hash), matching-position fraction verify
    QueryDef.sql("mm9_video_near_dup", Multimodal.sqlVideoNearDupPairs) { (s, dir) =>
      Multimodal.videoNearDupPairs(Multimodal.videoHashAssets(Tables.documents(s, dir)))
    },
    // shot-boundary detection: one lag over each reel's per-frame aHashes
    // (decoded once in the kernel), cut where the hamming distance clears
    // the threshold — within-shot repeats are 0 bits, scene cuts ~half
    QueryDef.sql("mm10_shot_bounds", Multimodal.sqlShotBoundaries) { (s, dir) =>
      Multimodal.shotBoundaries(Multimodal.videoShotAssets(Tables.documents(s, dir)))
    },
    // incremental image-shard dedup: today's shard decodes and hashes
    // only its own images, band-probes the SAVED fingerprint table —
    // candidate volume scales with the shard, never re-decodes the corpus
    QueryDef.sql("mm11_image_shard_dedup", Multimodal.sqlImageShardPairs) { (s, dir) =>
      imageShardPairs(s, dir)
    },
    // incremental audio-shard dedup (mm12): the waveform sibling of mm11
    // — shard decodes only itself, band-probes the saved fingerprints
    QueryDef.sql("mm12_audio_shard_dedup", Multimodal.sqlAudioShardPairs) { (s, dir) =>
      audioShardPairs(s, dir)
    },
    // incremental video-shard dedup (mm13): the temporal leg's shard
    // path — shard frames probe the saved (position, frame-hash) index
    QueryDef.sql("mm13_video_shard_dedup", Multimodal.sqlVideoShardPairs) { (s, dir) =>
      videoShardPairs(s, dir)
    },
    // per-user heartbeat gaps: the outages sessionization implies —
    // one lag over the per-key order, output only the silences
    QueryDef.sql("w15_gaps", EventWindows.sqlHeartbeatGaps) { (s, dir) =>
      EventWindows.heartbeatGaps(Tables.events(s, dir))
    }
  )
}
