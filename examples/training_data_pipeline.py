"""A full training-data curation pass over a document corpus: quality
filtering, PII scrubbing, exact + near-dup removal, 13-gram test-set
decontamination, and a resumable heavy-map stage (row-level checkpoint:
kill this script mid-run and rerun — only unprocessed rows recompute).

Run: python examples/training_data_pipeline.py
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from datachain_spark import get_spark
from datachain_spark.chain import Chain
from datachain_spark.operators.dedup import exact_dedup, near_dup_cluster_dedup
from datachain_spark.operators.text import decontaminate, quality_features, scrub_pii

spark = get_spark(cpus=4, shuffle_partitions=8)
work = Path(tempfile.mkdtemp(prefix="curation_"))
docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
print(f"raw corpus: {docs.count()} docs")

# 1. quality gate: cheap codegen features, keep the reasonable middle
q = quality_features(docs)
kept = q.filter((F.col("n_tokens") >= 5) & (F.col("punct_ratio") < 0.5))
print(f"after quality gate: {kept.count()}")

# 2. PII scrubbing (pure regexp_replace chain)
scrubbed = scrub_pii(kept.select("doc_id", "text", "lang"))

# 3. exact dedup, then near-dup CLUSTER dedup (MinHash+LSH -> connected
#    components -> keep one doc per cluster)
exact = exact_dedup(scrubbed)
deduped = near_dup_cluster_dedup(exact, threshold=0.8)
print(f"after exact+near dedup: {deduped.count()}")

# 4. decontamination vs a held-out "benchmark" slice (13-gram rule)
bench = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id", "text")
clean = decontaminate(deduped, bench.filter(F.col("doc_id") % 2 == 1), n=13)
print(f"after decontamination: {clean.count()}")

# 5. a heavy per-row stage with ROW-LEVEL RESUME: outputs commit in
#    chunks; a crashed run's rerun recomputes only the remainder
def featurize(doc_id, text):
    return float(len(text.split()))  # stand-in for a slow model call

final = Chain(clean).settings(batch_size=200).map(
    featurize,
    output={"feat": float},
    params=["doc_id", "text"],
    checkpoint=str(work / "ckpt"),
)
print(f"curated + featurized: {final.count()} docs -> {work}")
final.to_parquet(str(work / "curated"))

# 6. transcripts -> SFT examples (the engine's native payload): truncate
#    to a context budget, drop structurally bad conversations, then emit
#    BOTH standard shapes — whole-conversation text + loss spans, and
#    per-turn (context, target) pairs
from datachain_spark.operators.transcripts import (
    conversation_stats,
    expand_sft_examples,
    render_conversations,
    truncate_to_budget,
)

ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
conv = ev.selectExpr(
    "cast(user_id as string) conv_id",
    "cast(event_id as int) turn_idx",
    "event_type role",
    "props text",
)
conv = truncate_to_budget(conv, max_tokens=64)
good = conversation_stats(conv).filter(
    (F.col("n_turns") >= 2) & (F.col("empty_turn_frac") < 0.5)
)
conv = conv.join(good.select("conv_id"), "conv_id", "left_semi")
sft = render_conversations(conv, mask_roles=("click",))
pairs = expand_sft_examples(conv, target_roles=("click",))
print(f"SFT: {sft.count()} rendered conversations, {pairs.count()} (context, target) pairs")

# 7. fit a BPE tokenizer on the curated corpus and tokenize
from datachain_spark.operators.bpe import bpe_encode, fit_bpe

merges = fit_bpe(clean, num_merges=8)
print("BPE merges:", [(m["left_sym"], m["right_sym"]) for m in merges])
tokenized = bpe_encode(clean, merges)
print(f"tokenized: {tokenized.count()} docs")
