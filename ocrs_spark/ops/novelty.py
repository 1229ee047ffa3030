"""Cross-document n-gram novelty: for each document, the share of its
distinct word 3-shingles that occur in NO other document. The standard
curation complement to the dedup family — gopher.py measures
repetition WITHIN a doc, dedupgraph clusters whole near-duplicates,
decontam checks against a benchmark corpus; this row scores how much
of a document is corpus-unique prose vs shared boilerplate
(navigation chrome, license blocks, templated spam), the signal
CCNet/RefinedWeb-style pipelines threshold to keep the long tail of
genuinely novel text.

Plan shape at 100 TB: reuse the dedup shingle kernel (Arrow-batched,
byte-identical to the expression form), take distinct (doc_id, s) —
map-side combinable — and NEVER join back on the shingle key: a
shingle with document frequency 1 identifies its one containing doc
as min(doc_id) of its group, so the novel-shingle counts fall out of
the SAME groupBy(s) aggregate that computes the frequencies
(count + min, both partial-combinable, so a boilerplate shingle in
10^9 docs still folds map-side instead of flooding one task the way
a count-over-window on s would). The naive shape — join (doc_id, s)
against (s, df) then re-aggregate — pays a corpus-scale shuffle join
ON THE SHINGLE KEY and computes the shingle pipeline twice (the two
join inputs partition on different keys, so Spark cannot reuse the
exchange); this shape's joins are all one-row-per-doc tables on
doc_id. The shingle table is persisted (memory-then-disk) across its
two doc_id-/s-keyed aggregates so the Arrow UDF and the distinct run
once.

novelty_frac is a single IEEE division of two exact ints — bit-equal
cross-engine — rounded to 6 dp per house style anyway. Docs with
fewer than 3 tokens have no shingles and surface with zero counts and
NULL novelty (no evidence, not "novel"), preserved via left join from
the documents table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import load_tables
from .dedup import _DUCK_SHINGLES, shingles_df


def novelty_over(docs: DataFrame) -> DataFrame:
    """(doc_id, n_distinct_shingles, n_novel, novelty_frac) per doc."""
    sh = shingles_df(docs).distinct().localCheckpoint()
    totals = sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_distinct_shingles")
    )
    # df == 1  =>  the group's min(doc_id) IS the one containing doc.
    novel = (
        sh.groupBy("s")
        .agg(
            F.count("*").cast("long").alias("docs_s"),
            F.min("doc_id").alias("only_doc"),
        )
        .filter(F.col("docs_s") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_distinct_shingles", F.lit(0)).alias(
                "n_distinct_shingles"
            ),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.col("n_distinct_shingles"),
                6,
            ).alias("novelty_frac"),
        )
    )


def ngram_novelty(spark, sf_dir):
    (docs,) = load_tables(spark, sf_dir, "documents")
    return novelty_over(docs)


ORACLE_NOVELTY = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM documents
),
df_s AS (SELECT s, count(*)::BIGINT AS docs_s FROM sh GROUP BY s),
per_doc AS (
  SELECT sh.doc_id,
         count(*)::BIGINT AS n_distinct_shingles,
         sum(CASE WHEN df_s.docs_s = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
  FROM sh JOIN df_s USING (s)
  GROUP BY sh.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_distinct_shingles, 0) AS n_distinct_shingles,
       coalesce(p.n_novel, 0) AS n_novel,
       round(p.n_novel::DOUBLE / p.n_distinct_shingles, 6) AS novelty_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES = {"ngram_novelty": ngram_novelty}
ORACLES = {"ngram_novelty": ORACLE_NOVELTY}
