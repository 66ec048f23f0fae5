"""Triple extraction over the `files` corpus.

Structural triples — (repo, defines, symbol), (repo, imports, module) —
come from per-language regexp_extract_all: fully vectorized JVM-side
string ops, no model, no Python. Mention triples — (repo, mentions,
entity) — come from the NER pipeline (reference dataflow,
lib/informers/pipelines.rb:88-158) filtered to typed groups.

Scale notes: regexp extraction is embarrassingly parallel over the scan;
the only shuffle is the final distinct, keyed by the triple itself
(uniform). The NER UDF runs on the same scan partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from informers_spark.pipelines.ner import ner

# per-language dialect patterns (Java regex, multiline)
IMPORT_PATTERNS = {
    "python": r"(?m)^import\s+(\w+)",
    "ruby": r"(?m)^require\s+\"([^\"]+)\"",
    "js": r"require\(\"([^\"]+)\"\)",
    "go": r"(?m)^import\s+\"([^\"]+)\"",
    "java": r"(?m)^import\s+([\w.]+);",
}
DEFINE_PATTERNS = {
    "python": r"(?m)^def\s+(\w+)",
    "ruby": r"(?m)^def\s+(\w+)",
    "js": r"function\s+(\w+)",
    "go": r"(?m)^func\s+(\w+)",
    "java": r"(?m)^public\s+\w+\s+(\w+)\(",
}


def _lang_extract_expr(patterns: dict[str, str]):
    expr = F.array().cast("array<string>")
    for lang, pat in patterns.items():
        expr = F.when(
            F.col("lang") == lang,
            F.regexp_extract_all(F.col("content"), F.lit(pat), F.lit(1)),
        ).otherwise(expr)
    return expr


def extract_structural_triples(files: DataFrame) -> DataFrame:
    """(repo, defines, symbol) ∪ (repo, imports, module) — in ONE pass:
    both pattern families evaluate on the same scanned row and the tagged
    results explode together. A unionAll of two per-predicate branches
    would scan (and snappy-decode) the full content column twice — at
    corpus scale the scan IS the cost of this stage."""
    tag = lambda pred, arr: F.transform(  # noqa: E731
        arr, lambda o: F.struct(F.lit(pred).alias("pred"), o.alias("obj"))
    )
    both = F.concat(
        tag("defines", _lang_extract_expr(DEFINE_PATTERNS)),
        tag("imports", _lang_extract_expr(IMPORT_PATTERNS)),
    )
    return (
        files.withColumn("po", F.explode(both))
        .select(
            F.col("repo").alias("subj"),
            F.col("po.pred").alias("pred"),
            F.col("po.obj").alias("obj"),
            F.lit(1.0).cast("float").alias("score"),
            F.col("content_sha256").alias("src_sha256"),
        )
    )


# the ONE definition of which entity groups enter the graph: the mention
# triples and the entity linker's surfaces both filter on it
ENTITY_GROUPS = ("PER", "ORG", "LOC")


def mention_triples_from_mentions(mentions: DataFrame) -> DataFrame:
    """Typed-group filter + (subj, pred, obj, score, src_sha256)
    projection over an existing mentions table."""
    return mentions.filter(F.col("entity_group").isin(*ENTITY_GROUPS)).select(
        F.col("repo").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("word").alias("obj"),
        F.col("score"),
        F.col("content_sha256").alias("src_sha256"),
    )


def mentions_table(files: DataFrame, backend: str = "auto") -> DataFrame:
    """The mentions warehouse table (SURVEY.md §1.2):
    (repo, path, commit, content_sha256, entity_group, word, score, start, end)."""
    return ner(
        files.select(
            "repo", "path", "commit", "content_sha256", F.col("content").alias("text")
        ),
        text_col="text",
        backend=backend,
    ).drop("text")
