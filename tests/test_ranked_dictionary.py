"""Two-phase bucketed dictionary rank: must assign exactly the ids a
single-partition ``row_number() OVER (ORDER BY key)`` over the non-NULL
keys assigns, while keeping the big sort partitioned (no single-partition
Exchange of the dictionary keys) and reading the distinct keys through one
reused shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from thisishappening_spark.operators.dedup import doc_shingles, ranked_dictionary
from thisishappening_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ranked_dictionary_matches_global_row_number(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    new = ranked_dictionary(sh, "shingle", "sid")
    old = (
        sh.select("shingle")
        .distinct()
        .withColumn("sid", F.row_number().over(Window.orderBy("shingle")))
    )
    assert new.dtypes == old.dtypes  # sid stays INT (nullability may differ)
    joined = new.join(old.withColumnRenamed("sid", "old_sid"), "shingle")
    assert joined.filter("sid <> old_sid").count() == 0
    assert new.count() == old.count()


def test_ranked_dictionary_edge_keys(spark):
    """Empty strings, keys shorter than the bucket prefix, shared prefixes,
    multibyte codepoints — the order-preserving-prefix argument must hold
    for all of them. NULL keys get no id and take no rank, so the ids stay
    dense 1..n over the non-NULL keys (the DuckDB oracle's numbering)."""
    rows = [
        ("",), ("a",), ("ab",), ("abc",), ("abcd",), ("abcde",), ("abce",),
        ("zzzz zzz",), ("éclair",), ("écla",), ("日本語テスト",), ("日本",),
        ("THE the",), ("the",), ("[",), ("{",), (None,),
    ]
    df = spark.createDataFrame(rows + rows, "k string")  # with duplicates
    new = sorted(ranked_dictionary(df, "k", "kid").collect())
    old = sorted(
        df.select("k")
        .where("k IS NOT NULL")
        .distinct()
        .withColumn("kid", F.row_number().over(Window.orderBy("k")))
        .collect()
    )
    assert new == old

    small = spark.createDataFrame([(None,), ("a",), ("abcde",), ("b",)], "k string")
    got = {r["k"]: r["kid"] for r in ranked_dictionary(small, "k", "kid").collect()}
    assert got == {"a": 1, "abcde": 2, "b": 3}


def test_shingle_dictionary_rank_is_partitioned(spark, sf_dir):
    """The scale guard: the dictionary-key sort must not be a global
    window. The only SinglePartition exchange allowed in the plan is the
    O(buckets) count/offset table (carries the __c count column), never
    the key rows themselves."""
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(ranked_dictionary(doc_shingles(docs), "shingle", "sid"))
    # row_number runs partitioned by the bucket prefix:
    assert "row_number()" in plan
    for frag in plan.split("Exchange SinglePartition")[1:]:
        # every single-partition exchange feeds the tiny per-bucket count
        # table (its child subtree mentions the __c count column), never
        # the key rows themselves
        child = "\n".join(frag.splitlines()[:4])
        assert "__c" in child, f"key rows cross a SinglePartition exchange:\n{child}"


@pytest.mark.parametrize(
    "name", ["ranked_dictionary", "q_simhash", "q_doc_fingerprint", "q_minhash_lsh_pairs"]
)
def test_dictionary_rank_reuses_distinct_key_exchange(spark, sf_dir, name):
    """The per-bucket rank and the bucket-offset table read the same
    distinct-key shuffle: the EXECUTED final plan replays it as a
    ReusedExchange carrying the bucket column ``__b``. Reuse fires at AQE
    stage materialization, so only the final plan can show it."""
    from thisishappening_spark.queries import REGISTRY

    if name == "ranked_dictionary":
        docs = load_table(spark, sf_dir, "documents")
        df = ranked_dictionary(doc_shingles(docs), "shingle", "sid")
    else:
        df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    # AQE's toString prints the final plan followed by the initial plan —
    # assert on the final (executed) section only.
    final = _plan(df).split("== Initial Plan ==")[0]
    reused = [line for line in final.splitlines() if "ReusedExchange" in line]
    assert any("__b" in line for line in reused), (
        f"{name}: the distinct-key exchange is no longer reused — the "
        f"dictionary's distinct keys are shuffled twice:\n{final}"
    )
