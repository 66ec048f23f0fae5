"""Token-classification (NER) pipeline as a DataFrame transform.

Reference dataflow (lib/informers/pipelines.rb:88-158):
    tokenize w/ offsets → forward → per-token argmax → drop ignore_labels
    (default ["O"]) → drop empty words → softmax score of argmax →
    BIO group_entities merge (pipelines.rb:192-225).

The BIO merge is a sequential, order-dependent scan, so it stays inside
the batch step per document (never a distributed aggregate) — the
grouped entities explode into one output row per mention. Output schema
mirrors the grouped-entity record (pipelines.rb:166-172).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from informers_spark.functions.kernels import group_entities, softmax
from informers_spark.pipelines.batch import explode, map_batches, texts

MENTION_FIELDS = [
    T.StructField("entity_group", T.StringType()),
    T.StructField("word", T.StringType()),
    T.StructField("score", T.FloatType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
]

# aggregation_strategy="none" token records additionally carry the raw
# token index in the model's tokenization (reference token record
# `index: j`, pipelines.rb:136-143 — the value its own test pins at 8
# for "Mat", test/pipeline_test.rb:16-25)
TOKEN_INDEX_FIELD = T.StructField("index", T.IntegerType())


def ner(
    df: DataFrame,
    text_col: str = "text",
    ignore_labels: tuple[str, ...] = ("O",),
    aggregation_strategy: str = "simple",
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Explode each text into grouped entity mentions.

    Output: all input columns + (entity_group, word, score, start, end);
    texts with no mentions produce no rows (explode semantics).
    """
    fields = list(MENTION_FIELDS)
    if aggregation_strategy == "none":
        fields = fields + [TOKEN_INDEX_FIELD]

    def make(be):
        def step(pdf):
            logits_list, offsets_list, id2label = be.token_classify(texts(pdf, text_col))
            # vectorized pre-pass: the ignored-label drop
            # (pipelines.rb:122-125) removes the vast majority of tokens
            # ('O' on a typical corpus), so argmax + keep-mask run in
            # numpy and the Python loop below touches ONLY the surviving
            # entity tokens. softmax is row-independent, so computing it
            # on the kept subset is bit-identical to slicing a full-batch
            # softmax (fixture-pinned).
            keep_label = np.array(
                [lab not in ignore_labels for lab in id2label], dtype=bool
            )
            per_row = []
            for logits, offsets in zip(logits_list, offsets_list):
                ents = []
                if len(logits):
                    arg = np.argmax(logits, axis=-1)
                    kept = np.nonzero(keep_label[arg])[0]
                    if len(kept):
                        probs_kept = softmax(logits[kept], axis=-1)
                        scores = probs_kept[np.arange(len(kept)), arg[kept]]
                        for k, j in enumerate(kept):
                            word, s, e = offsets[j]
                            # empty/special-word drop (pipelines.rb:128-132)
                            if word.strip():
                                ents.append({
                                    "entity": id2label[int(arg[j])],
                                    "score": float(scores[k]),
                                    "word": word,
                                    "start": int(s),
                                    "end": int(e),
                                    "index": int(j),
                                })
                if aggregation_strategy == "simple":
                    per_row.append([
                        (g["entity_group"], g["word"], g["score"], g["start"], g["end"])
                        for g in group_entities(ents)
                    ])
                else:  # "none": token-level records (entity_group carries
                    # the reference record's `entity` label, B-/I- intact)
                    per_row.append([
                        (e["entity"], e["word"], e["score"], e["start"], e["end"], e["index"])
                        for e in ents
                    ])
            return explode(per_row, len(fields))

        return step

    return map_batches(df, fields, make, backend, backend_opts)
