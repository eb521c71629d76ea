"""The neural decode over the scorer's per-pair probability vector
(``udf.neural_triples_from``) must be ROW-IDENTICAL to the relational
decode it replaces: threshold -> top_k_per_pair -> mention and label
enrich joins -> constraint_filter -> format_output over the exploded
(pair, label) relation of ``score_pairs_neural``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glirel_spark import config
from glirel_spark.model import udf
from glirel_spark.operators import decode as decode_ops
from glirel_spark.operators import fused
from glirel_spark.plans.api import labels_df_from_dict

DOCS = [
    ("d0", "spark feeds the table scan near customer query window", ["feeds", "used by"]),
    ("d1", "table scan runs on spark with a hash join", ["runs on", "not in dict"]),
    ("d2", "the stream feeds a vector window for customer key", ["depends on"]),
    ("d3", "nothing to see here at all", ["feeds"]),       # 0 mentions
    ("d4", "only spark is named here", ["feeds"]),          # 1 mention
    ("d5", "spark query table", ["feeds", "runs on"]),      # + out-of-range span
]
# partial and EMPTY constraint lists; "related to" absent from the dict
LABELS = {
    "depends on": {},
    "feeds": {"allowed_head": ["OBJECT", "TOOL"], "allowed_tail": []},
    "runs on": {"allowed_tail": ["TOOL"]},
    "used by": {"allowed_head": ["TOOL", "OBJECT", "ALGO"]},
}


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def inputs(spark):
    # many more partitions than docs: empty partitions on both sides
    docs = spark.createDataFrame(
        [(d, t.split(" "), labs) for d, t, labs in DOCS],
        "doc_id string, tokens array<string>, labels array<string>",
    ).repartition(16)
    ments = fused.mentions_fused(docs.select("doc_id", "tokens")).select(
        "doc_id", "start", "end", "type", "text"
    ).unionByName(spark.createDataFrame(
        [("d5", 1, 9, "EVENT", "broken")],  # P4: end beyond the sequence
        "doc_id string, start int, end int, type string, text string",
    ))
    return docs, ments


def _relational(spark, docs, ments, labels, threshold, k, labels_col=None):
    scored = udf.score_pairs_neural(
        docs, ments, labels=sorted(labels), labels_col=labels_col
    )
    best = decode_ops.top_k_per_pair(decode_ops.threshold_filter(scored, threshold), k)
    m = ments.select("doc_id", "start", "end", "type", "text")
    h = m.toDF("doc_id", "h_start", "h_end", "h_type", "h_text")
    t = m.toDF("doc_id", "t_start", "t_end", "t_type", "t_text")
    enriched = (
        best.join(h, ["doc_id", "h_start", "h_end"])
        .join(t, ["doc_id", "t_start", "t_end"])
        .join(F.broadcast(labels_df_from_dict(spark, labels)), "label", "left")
        .withColumn("raw", F.lit(None).cast("int"))
    )
    return decode_ops.format_output(decode_ops.constraint_filter(enriched))


def _thresholds(docs, ments, labels_col):
    # label reps depend on the prompt, so take the probs this label
    # setting emits: the median is one of them, and `prob > threshold`
    # must drop exactly that row in both forms; 0.0 keeps every label
    probs = sorted(r.prob for r in udf.score_pairs_neural(
        docs, ments, labels=sorted(LABELS), labels_col=labels_col
    ).collect())
    return [0.0, probs[len(probs) // 2], config.THRESHOLD]


@pytest.mark.parametrize("k", [1, 2, 3])
def test_neural_decode_equals_relational(spark, inputs, k):
    docs, ments = inputs
    for labels_col in (None, "labels"):
        for th in _thresholds(docs, ments, labels_col):
            new = udf.neural_triples_from(
                udf._pack(docs, ments, labels_col), LABELS, th, k, labels_col
            )
            ref = _relational(spark, docs, ments, LABELS, th, k, labels_col)
            assert new.columns == ref.columns
            got = _rows(new)
            assert got == _rows(ref), (k, th, labels_col)
            assert got or th == config.THRESHOLD  # 0.0 and the median keep rows


def test_neural_triples_keeps_default_labels(spark, inputs):
    docs, ments = inputs
    dt = docs.select("doc_id", "tokens")
    new = udf.neural_triples(dt, ments, 0.0, 2)
    ref = _relational(spark, dt, ments, config.RELATION_LABELS, 0.0, 2)
    assert _rows(new) == _rows(ref) and new.count() > 0


def test_neural_decode_edge_docs(spark, inputs):
    docs, ments = inputs
    out = udf.neural_triples_from(udf._pack(docs, ments), LABELS, 0.0, 3).collect()
    by_doc = {r.doc_id for r in out}
    assert not by_doc & {"d3", "d4"}  # < 2 mentions: no pair
    d5 = [r for r in out if r.doc_id == "d5"]
    assert d5 and all(r.head_end <= 3 and r.tail_end <= 3 for r in d5)  # (1, 9) masked
    # allowed_tail=[] allows nothing
    assert all(r.label != "feeds" for r in out)


def test_neural_decode_empty_label_dict_is_empty_typed(spark, inputs):
    docs, ments = inputs
    dm = udf._pack(docs, ments)
    ref = udf.neural_triples_from(dm)
    out = udf.neural_triples_from(dm, {})
    assert out.schema.simpleString() == ref.schema.simpleString()
    assert out.count() == 0
