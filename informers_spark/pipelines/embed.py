"""Embedding / feature-extraction pipeline as a DataFrame transform.

Reference dataflow (lib/informers/pipelines.rb:821-882, embedding defaults
pooling:"mean", normalize:true at :1042-1051; feature-extraction defaults
pooling:"none", normalize:false at :824-826):
    tokenize → forward (optionally selecting a NAMED model output,
    pipelines.rb:836-838) → pool ("none"|"mean"|"cls", :858-868) →
    L2 normalize (utils/tensor.rb:19-24)

pooling "none" deviation, documented: the reference returns the PADDED
batch tensor, so a text's trailing rows depend on which batch it landed
in. Under Spark, batch composition is a partitioning artifact, so we
return each row's REAL token vectors only (mask==1 positions) — the
per-row result is deterministic regardless of partitioning, which the
driver's value-hash gate requires.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from informers_spark.functions.kernels import mean_pooling, normalize
from informers_spark.pipelines.batch import map_batches, texts

# named outputs that are already pooled [batch, dim] (arctic's
# sentence_embedding, test/model_test.rb:155-158); used only as the
# default for the pooled_output schema hint below
_POOLED_OUTPUT_NAMES = {"sentence_embedding"}


def embed(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    pooling: str = "mean",
    do_normalize: bool = True,
    quantize: str | None = None,
    model_output: str | None = None,
    pooled_output: bool | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Append an embedding column. All input columns pass through.

    pooling: "mean" | "cls" | "none" (the reference feature-extraction
    DEFAULT, pipelines.rb:824). "none" emits array<array<float>> — one
    vector per real token — unless the selected model_output is already
    pooled (see pooled_output).

    model_output: select a named model output instead of the default
    logits (pipelines.rb:836-838) — e.g. arctic's "sentence_embedding"
    (already pooled) or "token_embeddings". When None and the backend
    declares legacy-MiniLM outputs (["token_embeddings"]) with
    pooling "mean" + normalize, the pipeline auto-switches to the
    "sentence_embedding" output with pooling "none"/normalize false,
    mirroring pipelines.rb:839-845 + :1412-1415.

    pooled_output: schema hint — True means the named model_output is
    already [batch, dim] so the result column is array<float> even with
    pooling "none". Default: inferred from the output name
    ("sentence_embedding" → True). Spark needs the rank at PLAN time;
    the reference discovers it from the returned tensor.

    quantize: None | "binary" (sign → {1,-1} int8 per dim) | "ubinary"
    (sign bits packed 8-per-byte). The reference calls
    quantize_embeddings(result, precision) (pipelines.rb:876-877) but
    never defines it — semantics follow the transformers.js original it
    ports. Requires a pooled result (one vector per row).
    """
    if pooled_output is None:
        pooled_output = model_output in _POOLED_OUTPUT_NAMES
    token_level = pooling == "none" and not pooled_output
    if pooling not in ("mean", "cls", "none"):
        # reference raises Error, pipelines.rb:866-868
        raise ValueError(f"Pooling method '{pooling}' not supported.")
    if quantize is not None and token_level:
        raise ValueError(
            "quantize requires a pooled result (one vector per row); "
            'got pooling="none" without a pooled model_output'
        )
    elem: T.DataType = T.FloatType() if quantize is None else T.IntegerType()
    if token_level:
        elem = T.ArrayType(T.FloatType())

    def make(be):
        sel, pool, norm = model_output, pooling, do_normalize
        # legacy all-MiniLM-L6-v2 revision: model declares a
        # token_embeddings output; mean+normalize is exactly its
        # sentence_embedding output (pipelines.rb:839-845)
        if (
            sel is None
            and getattr(be, "declared_output_names", None) == ["token_embeddings"]
            and pool == "mean"
            and norm
        ):
            sel, pool, norm = "sentence_embedding", "none", False

        def step(pdf):
            batch = texts(pdf, text_col)
            if sel is None and pool == "mean" and hasattr(be, "mean_encode"):
                # fused tokenize+pool fast path (no padded hidden tensor)
                return None, [_finish(be.mean_encode(batch), norm, quantize)]
            kw = {"output_names": [sel]} if sel is not None else {}
            hidden, mask = be.encode(batch, **kw)
            if hidden.ndim == 2:
                # named output already pooled (arctic sentence_embedding)
                if token_level:
                    raise ValueError(
                        f"model_output {sel!r} is already pooled "
                        "[batch, dim]; pass pooled_output=True"
                    )
                return None, [_finish(hidden, norm, quantize)]
            if pool == "mean":
                return None, [_finish(mean_pooling(hidden, mask), norm, quantize)]
            if pool == "cls":
                # first token (pipelines.rb:864-865)
                return None, [_finish(hidden[:, 0, :], norm, quantize)]
            # "none": per-row real-token vectors (see module doc)
            out = []
            for i in range(hidden.shape[0]):
                toks = hidden[i, mask[i].astype(bool)]
                out.append(list(normalize(toks) if norm else toks))
            return None, [out]

        return step

    return map_batches(
        df, [T.StructField(out_col, T.ArrayType(elem))], make, backend, backend_opts
    )


def _finish(pooled: np.ndarray, do_normalize: bool, quantize: str | None) -> np.ndarray:
    if do_normalize:
        pooled = normalize(pooled)
    if quantize == "binary":
        pooled = np.where(pooled > 0, 1, -1).astype(np.int32)
    elif quantize == "ubinary":
        pooled = np.packbits(pooled > 0, axis=-1).astype(np.int32)
    return pooled
