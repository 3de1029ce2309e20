"""Regression net for the BPE oracle-chain exhaustion semantics: when a
corpus fully fuses in fewer rounds than n_merges, the engine's _bpe_loop
keeps its LAST vocab state while the unrolled oracle CTEs must CARRY
v{k} through the exhausted rounds (LEFT JOIN fold) instead of emptying —
an inner-join fold would silently zero every encode-side oracle
(bpe_vocab_stats / bpe_encode / bpe_fertility / tokenized_pack) and turn
a correct engine result into a false certification failure.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_ROOT))
sys.path.insert(0, str(_ROOT / "scripts"))


QUERIES = [
    "bpe_train",
    "bpe_vocab_stats",
    "bpe_encode",
    "bpe_fertility",
    "tokenized_pack",
]


@pytest.fixture(scope="module")
def fused_corpus(tmp_path_factory):
    # every word is "ab": fully fused after ONE merge, so rounds 2..6 of
    # the 6-round query configs are exhausted
    tmp = tmp_path_factory.mktemp("fuse")
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["ab ab", "ab", "ab ab ab"],
            "lang": ["en", "en", "de"],
        }
    ).to_parquet(tmp / "documents.parquet")
    return str(tmp)


def test_bpe_family_oracles_survive_merge_exhaustion(spark, fused_corpus):
    import __spark_entry__ as entry
    from check_oracles import value_hash

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{fused_corpus}/documents.parquet')"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in QUERIES:
        sdf = qs[name](spark, fused_corpus).toPandas()
        odf = con.sql(oracles[name]).df()
        assert len(sdf) > 0, f"{name}: engine returned no rows"
        assert len(sdf) == len(odf), (name, len(sdf), len(odf))
        assert value_hash(sdf) == value_hash(odf), name
