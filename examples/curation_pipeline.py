"""Executable training-data curation walkthrough over the documents table:
the operator families a 100 TB text pipeline runs, end to end —

  1. corpus-wide boilerplate-line removal      (remove_repeated_lines)
  2. benchmark decontamination                 (ngram_contamination)
  3. near-duplicate candidate generation       (MinHash + LSH, capped)
  4. one-pass curation: dedup-keep → quality/
     language/token features → filters → splits (curate_documents)
  5. corpus term statistics                    (top_terms)
  6. SimHash near-dup pairs                    (simhash_pairs, 64-bit)
  7. concat-and-chunk packing bookkeeping      (chunk_assignments)
  8. cross-document duplicate-n-gram fraction  (dup_ngram_stats)
  9. PII scrubbing                             (pii_scrub)
 10. URL discovery + per-domain caps           (extract_urls + topk_per_group)
 11. mixture rebalancing to a per-language
     expected target                           (balanced_sample)
 12. Gopher-style rule-based quality filter    (gopher_rules)
 13. keep-best-quality near-dup dedup          (dedup_keep_best)
 14. incremental shard-vs-keeper dedup         (incremental_dedup)
 15. tokenizer-true token budgeting            (bpe_token_count)
 16. chunk-level dedup for RAG                 (chunk_dedup + near pairs)
 17. BPE merge learning                        (learn_bpe_merges)
 18. packed-sequence emission                  (pack_sequences)
 19. semantic incremental dedup + index upkeep (embed_incremental +
                                                extend_embed_index)
 20. chunk-level near-dup KEEP verdicts        (chunk_windows once →
                                                chunk_near_keep(chunks=))
 21. multi-shard text loop: index seed →
     shard dedup → keeper append → next shard (extend_band_index)
 22. classifier-based quality scoring         (linear_quality_score)
 23. token-weighted mixture rebalancing       (mixture_weights →
                                               stratified_sample)
 24. the composed curation loop, fully in-plan:
     score → threshold filter → rebalance →
     per-group Bernoulli sample with the
     threshold derived from keep_rate          (keep_cols= + hex8_val)
 25. temperature rebalancing (no target dict:
     sample group i ∝ mass_i^α, α = 2^-k)      (temperature_weights)

Run:  python examples/curation_pipeline.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from xarray_histogram_spark import curate_documents
from xarray_histogram_spark.operators.dedup import (
    lsh_candidate_pairs, ngram_contamination,
)
from xarray_histogram_spark.operators.sampling import (
    balanced_sample, chunk_assignments, topk_per_group,
)
from xarray_histogram_spark.operators.dedup import simhash_pairs
from xarray_histogram_spark.operators.dedup import dedup_keep_best
from xarray_histogram_spark.operators.text import (
    remove_repeated_lines, token_count_cols, top_terms,
    dup_ngram_stats, extract_urls, pii_scrub, gopher_rules,
)

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

docs = spark.read.parquet(f"{sf}/documents.parquet")
n0 = docs.count()

# 1. strip corpus-wide boilerplate lines (cap = 3 occurrences)
cleaned = remove_repeated_lines(docs, "text", "doc_id", max_occurrences=3)
n_removed = cleaned.agg(F.sum("n_lines_removed")).first()[0]

# 2. flag docs leaking the held-out slice (src14 as the "benchmark")
flagged = ngram_contamination(
    docs.where(F.col("source") != "src14"),
    docs.where(F.col("source") == "src14"),
    "text", "doc_id", k=12, min_hits=40,
)
n_contaminated = flagged.count()

# 3. near-dup candidates (degenerate buckets capped — the 100 TB guard)
pairs = lsh_candidate_pairs(docs, "text", "doc_id", max_bucket=10_000)
n_pairs = pairs.count()

# 4. the one-scan one-shuffle curation plan
curated = curate_documents(
    docs, "text", "doc_id", quality_min=0.2, langs=("en", "und"),
    salt="demo",
)
split_counts = {r["split"]: r["n"] for r in
                curated.groupBy("split").agg(F.count("*").alias("n")).collect()}

# 5. per-doc salient terms
terms = top_terms(docs, "text", "doc_id", k=3, min_df=2)

# 6. SimHash near-dup pairs: 64-bit signatures, four 16-bit bands,
# exact Hamming filter — the cheap complement to MinHash/Jaccard
sh_pairs = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
n_sh = sh_pairs.count()

# 7. pack the curated corpus into fixed 256-token training chunks,
# per-source streams (chunk ids are per-shard — no global sort)
packed = chunk_assignments(
    docs.select("doc_id", "source", token_count_cols("text")[0]),
    "doc_id", "n_tokens", 256, "source",
)
n_chunks = (
    packed.groupBy("source").agg(F.max("chunk_last").alias("m"))
    .agg(F.sum(F.col("m") + 1)).first()[0]
)

# 8. cross-document repetition: share of each doc's distinct token
# 3-grams that occur elsewhere in the corpus (window df — no self-join)
dup_frac = dup_ngram_stats(docs, "text", "doc_id", n=3)
mean_dup = dup_frac.agg(F.avg("dup_frac")).first()[0] or 0.0

# 9. PII scrubbing: per-class counts + redacted text (pure projection).
# The synthetic corpus is clean, so append a contact block to a slice of
# documents to show the scrubber at work (the registry gate does the same).
demo = docs.limit(50).withColumn(
    "text",
    F.concat(F.col("text"),
             F.lit(" Contact "), F.col("doc_id").cast("string"),
             F.lit("@corp.example.com or +4915112345678 at 10.0.0."),
             (F.col("doc_id") % 256).cast("string"),
             F.lit(" — see https://docs.example.org/p/"),
             F.col("doc_id").cast("string")),
)
pii = pii_scrub(demo, "text", "doc_id")
n_pii_docs = pii.where(F.col("n_pii") > 0).count()

# 10. URL discovery + per-domain caps (no domain dominates the corpus)
urls = extract_urls(demo, "text", "doc_id").withColumn(
    "row_key",
    F.concat(F.col("doc_id").cast("string"), F.lit(":"),
             F.col("pos").cast("string")),
)
capped = topk_per_group(urls, ["domain"], "row_key", 5)
n_urls, n_capped = urls.count(), capped.count()

# 11. rebalance the language mixture to an expected 100 docs/language
balanced = balanced_sample(docs, "lang", "doc_id", 100)
bal_sizes = {r["lang"]: r["n"] for r in
             balanced.groupBy("lang").agg(F.count("*").alias("n")).collect()}

print(f"docs: {n0}")
print(f"boilerplate lines removed corpus-wide: {n_removed}")
print(f"docs overlapping the benchmark slice: {n_contaminated}")
print(f"near-duplicate candidate pairs: {n_pairs}")
print(f"curated split sizes: {split_counts}")
print(f"simhash near-dup pairs (hamming<=3): {n_sh}")
print(f"training chunks at context=256: {n_chunks}")
print(f"mean duplicate-3-gram fraction: {mean_dup:.3f}")
print("sample top terms:")
terms.orderBy("doc_id", F.col("score").desc()).show(6)
assert sum(split_counts.values()) > 0 and n0 > 0
print(f"docs with detected PII: {n_pii_docs}")
print(f"urls found: {n_urls}; kept after per-domain cap of 5: {n_capped}")
print(f"language sizes after balancing to 100: {bal_sizes}")
assert all(v <= 150 for v in bal_sizes.values())

# 12. Gopher rule-based filter: structural metrics + keep.  The synthetic
# word soup has no stopword-rich prose, so the required-words rule is
# relaxed here (the registry gate exercises it on augmented text); the
# word-count / word-length / alpha rules do real work on this corpus.
rules = gopher_rules(docs, "text", "doc_id", min_words=30,
                     min_required_words=0)
n_keep = rules.where(F.col("keep")).count()
print(f"gopher rules keep {n_keep}/{n0} docs")
assert 0 < n_keep < n0

# 13. near-dup dedup keeping the highest-QUALITY cluster member (min-id
# keeping would keep whichever copy was crawled first)
best = dedup_keep_best(docs, "text", "doc_id")
n_best = best.where(F.col("keep_best")).count()
print(f"keep-best dedup keeps {n_best}/{n0} docs")
assert 0 < n_best <= n0

# 14. incremental ingest: dedup the NEXT crawl shard against what we
# kept — the keeper corpus contributes only map-side probed scans; in
# production the band index (band_rows) is persisted once and reused
# for every shard
from xarray_histogram_spark.operators.dedup import (  # noqa: E402
    band_rows, incremental_dedup,
)
from xarray_histogram_spark.operators.text import (  # noqa: E402
    bpe_token_count, DEMO_BPE_MERGES,
)

kept_corpus = docs.where(F.col("doc_id") % 4 != 3).select("doc_id", "text")
shard = docs.where(F.col("doc_id") % 4 == 3).select("doc_id", "text")
index = band_rows(kept_corpus, "text", "doc_id")  # persist this in prod
verdicts = incremental_dedup(
    shard, kept_corpus, "text", "doc_id", kept_bands=index,
    max_kept_per_band=10_000,
)
n_new_kept = verdicts.where(F.col("keep")).count()
n_dup_kept = verdicts.where(F.col("dup_of_kept")).count()
print(f"incremental shard: {n_new_kept} enter the corpus, "
      f"{n_dup_kept} duplicate kept docs")

# 15. tokenizer-true budgeting: BPE-merge token counts for the packer
bpe = bpe_token_count(docs, "text", "doc_id", DEMO_BPE_MERGES)
total_bpe = bpe.agg(F.sum("n_bpe_tokens")).collect()[0][0]
print(f"corpus BPE tokens (demo merge table): {total_bpe}")
assert total_bpe and total_bpe > 0

# 16. chunk-level dedup (RAG corpora dedup the CHUNKS they index, not
# docs): sliding windows -> md5 min-uid keep verdicts; near-dup chunk
# pairs reuse the banded LSH + exact-Jaccard machinery
from xarray_histogram_spark.operators.dedup import (  # noqa: E402
    chunk_dedup, chunk_near_pairs,
)

cd = chunk_dedup(docs, "text", "doc_id", 64, 48)
n_chunks = cd.count()
n_dup_chunks = cd.where(~F.col("keep")).count()
cn = chunk_near_pairs(docs, "text", "doc_id", 64, 48).count()
print(f"chunks: {n_chunks}; exact-dup chunks dropped: {n_dup_chunks}; "
      f"near-dup chunk pairs: {cn}")
assert n_chunks > 0

# 17. BPE merge LEARNING: the greedy pair-frequency argmax loop emits a
# closure-ordered table the encoder consumes directly
from xarray_histogram_spark.operators.text import (  # noqa: E402
    bpe_pair_counts, learn_bpe_merges,
)

learned = learn_bpe_merges(docs, "text", 3, merges=DEMO_BPE_MERGES)
assert len(learned) == len(DEMO_BPE_MERGES) + 3
step_pairs = bpe_pair_counts(docs, "text", learned).count()
print(f"learned merges: {learned[-3:]}; next-step distinct pairs: "
      f"{step_pairs}")

# 18. packed-sequence EMISSION: the training-ready materialization the
# chunk_assignments bookkeeping (step 7) describes — per-source token
# streams sliced into fixed 256-token windows, actual text out
from xarray_histogram_spark.operators.sampling import (  # noqa: E402
    pack_sequences,
)

seqs = pack_sequences(docs, "text", "doc_id", "source", 256)
full = seqs.where(F.col("n_seq_tokens") == 256).count()
print(f"packed sequences: {seqs.count()} ({full} full 256-token windows)")
assert full > 0

# 19. incremental SEMANTIC dedup + keeper-index maintenance — the
# embedding production loop: persist the stamped index once, probe each
# shard against it, append the shard's keepers so the NEXT shard sees
# them
import shutil  # noqa: E402
import tempfile  # noqa: E402

from xarray_histogram_spark.operators.dedup import (  # noqa: E402
    embed_incremental, embed_index, extend_embed_index,
)

emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
    "vec_id", "embedding"
)
kept_vecs = emb.where(F.col("vec_id") % 5 != 2)
shard_vecs = emb.where(F.col("vec_id") % 5 == 2)
idx_path = tempfile.mkdtemp(prefix="xhs_example_embidx_")
try:
    embed_index(kept_vecs).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(idx_path)
    ev = embed_incremental(
        shard_vecs, None, threshold=0.35,
        kept_index=spark.read.parquet(idx_path),
    )
    n_sem_dup = ev.where(F.col("dup_of_kept")).count()
    extend_embed_index(shard_vecs, ev, idx_path)
    n_idx = spark.read.parquet(idx_path).count()
    print(f"semantic shard: {n_sem_dup} duplicate kept vectors; index "
          f"now holds {n_idx} vectors (keepers appended)")
    assert n_idx == kept_vecs.count() + ev.where(F.col("keep")).count()
finally:
    shutil.rmtree(idx_path, ignore_errors=True)

# 20. chunk-level near-dup KEEP verdicts (round 10) — the decision a
# RAG pipeline consumes: keep a chunk unless a lexicographically lower
# (doc, chunk) is near-identical.  The chunk frame is built and
# persisted once and passed as chunks=, so the pair evidence and the
# verdict join share one tokenization instead of each re-chunking the
# corpus in-plan.
from xarray_histogram_spark.operators.dedup import (  # noqa: E402
    chunk_near_keep,
)
from xarray_histogram_spark.operators.text import (  # noqa: E402
    chunk_windows,
)

doc_chunks = chunk_windows(docs, "text", "doc_id", 64, 48).persist()
ck = chunk_near_keep(None, "text", "doc_id", 64, 48, chunks=doc_chunks)
n_drop = ck.where(~F.col("keep")).count()
print(f"chunk-level keep: {ck.count()} chunks, {n_drop} near-dup drops")
assert n_drop > 0
doc_chunks.unpersist()

# 21. the TEXT multi-shard production loop (round 10): seed the band
# index from the keeper corpus, dedup shard 1 against it, APPEND shard
# 1's admitted keepers, and shard 2's probe then sees them — the
# invariant extend_band_index exists to provide.
from xarray_histogram_spark.operators.dedup import (  # noqa: E402
    band_rows, extend_band_index, incremental_dedup,
)

texts = docs.select("doc_id", "text")
kept0 = texts.where((F.col("doc_id") % 4).isin(0, 2))
shard1 = texts.where(F.col("doc_id") % 4 == 1)
shard2 = texts.where(F.col("doc_id") % 4 == 3)
band_root = tempfile.mkdtemp(prefix="xhs_example_bandidx_")
band_path = band_root + "/idx"
try:
    band_rows(kept0, "text", "doc_id").write.parquet(band_path)
    # persist shard 1's verdicts once — extend_band_index and the kept
    # union below both consume them, and a lazy frame would re-run the
    # whole verdict plan twice
    incremental_dedup(
        shard1, kept0, "text", "doc_id",
        kept_bands=spark.read.parquet(band_path),
    ).write.parquet(band_root + "/v1")
    v1 = spark.read.parquet(band_root + "/v1")
    extend_band_index(shard1, v1, band_path, "text", "doc_id")
    kept_union = kept0.unionAll(
        shard1.join(v1.where(F.col("keep")).select("doc_id"), "doc_id")
    )
    v2 = incremental_dedup(
        shard2, kept_union, "text", "doc_id",
        kept_bands=spark.read.parquet(band_path),
    )
    print(f"shard 2 verdicts: {v2.where(F.col('keep')).count()} keep, "
          f"{v2.where(F.col('dup_of_kept')).count()} dup-of-kept "
          f"(shard-1 admissions visible through the index append)")
finally:
    shutil.rmtree(band_root, ignore_errors=True)

# 22. classifier-based quality scoring (round 10, gate queued): a
# hashing-trick linear model — the fastText-style filter stage; the
# demo weight table stands in for a trained model's.  Raw linear
# activation: threshold it directly (the logistic is monotone).
from xarray_histogram_spark.operators.text import (  # noqa: E402
    demo_quality_weights, linear_quality_score,
)

lin = linear_quality_score(docs, "text", "doc_id",
                           demo_quality_weights(), bias=0.0)
n_scored = lin.where(F.col("lin_score").isNotNull()).count()
print(f"classifier-scored docs: {n_scored}/{n0}")
assert n_scored > 0

# 23. mixture rebalancing toward a TARGET token distribution (round 10,
# gate queued): per-source weights from integer token masses; keep_rate
# composes with stratified_sample for the actual row filter.
from xarray_histogram_spark.operators.sampling import (  # noqa: E402
    mixture_weights, stratified_sample,
)
from xarray_histogram_spark.operators.text import token_count  # noqa: E402

with_tokens = docs.join(
    token_count(docs, "text", "doc_id").select("doc_id", "n_tokens"),
    "doc_id",
)
mix = mixture_weights(with_tokens, "source",
                      {"src0": 2.0, "src1": 1.0, "src2": 1.0},
                      weight_col="n_tokens")
rates = {
    r["source"]: r["keep_rate"]
    for r in mix.collect()
    if r["source"] is not None and r["keep_rate"] is not None
}
rebalanced = stratified_sample(docs, "source", "doc_id", rates,
                               default_rate=0.0)
print(f"mixture weights over {mix.count()} sources; "
      f"rebalanced corpus: {rebalanced.count()} docs "
      f"(sources outside the target drop via default_rate=0)")

# 24. the composed loop, fully in-plan (round 11, gated as
# pipeline_curate_mixture): keep_cols= carries the group key through
# the score projection (no id join), the k-row mixture frame broadcasts
# back, and the per-row draw — one JVM conv to an exact integer —
# compares against floor(keep_rate·2³²) DERIVED IN-PLAN, so unlike
# step 23 no rate ever round-trips through the driver.  In production
# the score pass is persisted first (scores kept for audit, the fold
# runs once, the threshold filter pushes into the parquet scan — see
# the pipeline_curate_mixture entry); in-plan below for brevity.
from xarray_histogram_spark.functions.hashing import hex8_val  # noqa: E402
from xarray_histogram_spark.operators.sampling import (  # noqa: E402
    draw_hex, rate_threshold,
)

scored = linear_quality_score(docs, "text", "doc_id",
                              demo_quality_weights(), keep_cols=("source",))
filt = scored.where(F.col("lin_score") >= 0.0)
mix2 = mixture_weights(filt, "source",
                       {"src0": 2.0, "src1": 1.0, "src2": 1.0},
                       weight_col="n_tokens")
rates2 = F.broadcast(
    mix2.select(F.col("source").alias("_msrc"), "keep_rate")
)
sampled = (
    filt.join(rates2, filt["source"].eqNullSafe(rates2["_msrc"]))
    .where(hex8_val(draw_hex(F.col("doc_id"), salt="mix"))
           < rate_threshold(F.col("keep_rate")))
    .select("doc_id", "source", "n_tokens", "lin_score")
)
print(f"composed in-plan curation: {filt.count()} filtered docs → "
      f"{sampled.count()} sampled (rates from data, no driver collect)")

# 25. temperature rebalancing (round 11, round-12 gate queued): no
# target dict — the target derives FROM the data (group i ∝ mass_i^α,
# α = 1/2 here, τ = 2).  Tempering is integer-exact floor(sqrt(·)), so
# the k-row weights are bit-identical across engines; keep_rate feeds
# the same samplers / rate_threshold filter as steps 23-24.
from xarray_histogram_spark.operators.sampling import (  # noqa: E402
    temperature_weights,
)

temp = temperature_weights(with_tokens, "source", weight_col="n_tokens")
flat = temp.where(F.col("keep_rate").isNotNull()).agg(
    F.min("keep_rate"), F.max("keep_rate")).first()
print(f"temperature τ=2 weights over {temp.count()} sources; "
      f"keep_rate range [{flat[0]:.3f}, {flat[1]:.3f}] "
      f"(dominant sources thinned, tail kept whole)")

print("curation pipeline walkthrough OK")
spark.stop()
