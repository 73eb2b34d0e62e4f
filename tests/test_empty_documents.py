"""Empty and whitespace-only documents through the q-bodies that divide
by a document's length: each matches its unchanged oracle SQL (DuckDB
returns NULL for x / 0; Spark's ANSI mode would raise DIVIDE_BY_ZERO
unless the ratio is guarded)."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from scripts.check_oracle import compare

WORDS = " ".join(["alpha"] * 25)


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_docs")
    texts = ["", "   ", "Hello world 42", WORDS, WORDS]
    table = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("name", ["doc_quality_score", "training_set_selection"])
def test_matches_oracle_on_empty_documents(spark, docs_dir, name):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
    df = entrymod.queries()[name](spark, docs_dir)
    problems = compare(name, df, con, entrymod.oracle_sql()[name])
    assert not problems, problems


def test_empty_document_ratios_are_null(spark, docs_dir):
    rows = {
        r.doc_id: r
        for r in entrymod.queries()["doc_quality_score"](spark, docs_dir).collect()
    }
    assert rows[1].alpha_ratio is None
    assert rows[2].alpha_ratio == 0.0
