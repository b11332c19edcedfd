"""File-format sources (sources/files.py): the documents/embeddings
tables round-trip through parquet, JSON-lines, and CSV with one
enforced schema, and malformed text-format rows follow the declared
policy instead of silently widening types."""

from __future__ import annotations

import math

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "src0", "en", 11, "hello world"),
            (2, "src1", "de", 13, "hallo, \"welt\""),  # CSV quoting
            (3, "src0", "en", 0, ""),
        ],
        "doc_id long, source string, lang string, n_chars long, text string",
    )


@pytest.fixture(scope="module")
def embs(spark):
    return spark.createDataFrame(
        [(1, "a", [0.25, -1.5, 3.0]), (2, "b", [0.0, 2.0, -0.125])],
        "id long, label string, vector array<float>",
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_documents_roundtrip(spark, tmp_path, docs, fmt):
    from vicinity_spark.sources.files import read_documents, write_documents

    p = str(tmp_path / f"docs_{fmt}")
    write_documents(docs, p, fmt)
    back = read_documents(spark, p, fmt)
    assert [f.simpleString() for f in back.schema.fields] == [
        f.simpleString() for f in docs.schema.fields
    ]
    got = sorted((r.doc_id, r.source, r.lang, r.n_chars, r.text or "") for r in back.collect())
    want = sorted((r.doc_id, r.source, r.lang, r.n_chars, r.text) for r in docs.collect())
    # CSV cannot distinguish empty string from NULL — normalize both
    assert got == want


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_embeddings_roundtrip(spark, tmp_path, embs, fmt):
    from vicinity_spark.sources.files import read_embeddings, write_embeddings

    p = str(tmp_path / f"embs_{fmt}")
    write_embeddings(embs, p, fmt)
    back = read_embeddings(spark, p, fmt)
    got = {r.id: (r.label, [round(float(x), 6) for x in r.vector]) for r in back.collect()}
    want = {r.id: (r.label, [round(float(x), 6) for x in r.vector]) for r in embs.collect()}
    assert got == want
    assert dict(back.dtypes)["vector"] == "array<float>"


def test_failfast_on_malformed_json(spark, tmp_path):
    from vicinity_spark.sources.files import read_documents

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "source": "s", "lang": "en", "n_chars": 2, "text": "ok"}\n'
        '{"doc_id": "NOT A NUMBER", "source": 5, "lang": [], "n_chars": "x", "text": 1}\n'
    )
    with pytest.raises(Py4JJavaError):
        read_documents(spark, str(p), "json").collect()
    # DROPMALFORMED keeps only the clean row
    ok = read_documents(spark, str(p), "json", mode="DROPMALFORMED").collect()
    assert [r.doc_id for r in ok] == [1]


def test_missing_parquet_columns_raise(spark, tmp_path, docs):
    from vicinity_spark.sources.files import read_documents

    p = str(tmp_path / "narrow")
    docs.select("doc_id", "text").write.parquet(p)
    with pytest.raises(ValueError, match="lacks columns"):
        read_documents(spark, p, "parquet")


def test_unknown_format_rejected(spark, docs, tmp_path):
    from vicinity_spark.sources.files import read_documents, write_documents

    with pytest.raises(ValueError):
        read_documents(spark, "/nope", "orc8")
    with pytest.raises(ValueError):
        write_documents(docs, str(tmp_path / "x"), "xml")


@pytest.mark.slow
def test_formats_feed_operators_identically(spark, tmp_path, docs, embs):
    """The point of the enforced schema: the SAME operator output from
    any format — dedup fingerprints over documents, exact knn over
    embeddings."""
    from vicinity_spark.operators.knn import knn_join
    from vicinity_spark.operators.textops import fingerprints
    from vicinity_spark.sources.files import (
        read_documents,
        read_embeddings,
        write_documents,
        write_embeddings,
    )

    outs = []
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / f"docs2_{fmt}")
        write_documents(docs, p, fmt)
        d = read_documents(spark, p, fmt).withColumn("text", F.coalesce("text", F.lit("")))
        outs.append({tuple(r) for r in fingerprints(d).collect()})
    assert outs[0] == outs[1] == outs[2]

    knns = []
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / f"embs2_{fmt}")
        write_embeddings(embs, p, fmt)
        e = read_embeddings(spark, p, fmt)
        q = e.select(F.col("id").alias("query_id"), F.col("vector").alias("qvec"))
        r = knn_join(e, q, k=2, metric="cosine")
        knns.append({(x.query_id, x.id, round(x.distance, 6)) for x in r.collect()})
    assert knns[0] == knns[1] == knns[2]


def test_write_corpus_layout_prunes_and_bounds_files(spark, tmp_path):
    """The production layout contract: (a) directory partitioning by
    lang — a lang-filtered read-back plan shows a partition filter and
    reads only that directory's files; (b) maxRecordsPerFile bounds
    every file; (c) rows inside each file are sorted by doc_id (the
    row-group stats precondition)."""
    import os
    from pyspark.sql import functions as F
    from vicinity_spark.sources.files import read_documents, write_corpus_layout

    docs = spark.range(1_000).select(
        F.col("id").alias("doc_id"),
        F.lit("s0").alias("source"),
        F.when(F.col("id") % 4 == 0, "de").otherwise("en").alias("lang"),
        (F.col("id") % 97).alias("n_chars"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    path = str(tmp_path / "corpus")
    write_corpus_layout(docs, path, partition_by=("lang",),
                        sort_within=("doc_id",), max_records_per_file=100)
    # (a) directory partitioning + pruned read
    assert sorted(d for d in os.listdir(path) if d.startswith("lang=")) == [
        "lang=de", "lang=en",
    ]
    back = spark.read.parquet(path).where(F.col("lang") == "de")
    assert back.count() == 250
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    dirs = {f["p"].split("lang=")[1].split("/")[0] for f in
            back.select(F.input_file_name().alias("p")).distinct().collect()}
    assert dirs == {"de"}
    # (b) bounded file sizes
    import glob
    for f in glob.glob(path + "/lang=*/*.parquet"):
        n = spark.read.parquet(f).count()
        assert n <= 100, (f, n)
    # (c) sorted within files
    one = glob.glob(path + "/lang=en/*.parquet")[0]
    ids = [r.doc_id for r in spark.read.parquet(one).select("doc_id").collect()]
    assert ids == sorted(ids)
    # schema round-trips through the enforced reader
    rt = read_documents(spark, path)
    assert rt.count() == 1_000
    # error paths
    import pytest
    with pytest.raises(ValueError):
        write_corpus_layout(docs, path + "2", partition_by=())
    with pytest.raises(ValueError):
        write_corpus_layout(docs, path + "3", partition_by=("nope",))


@pytest.mark.parametrize("delim", ["s", "d", "\t", "w9"])
def test_embeddings_csv_alphanumeric_delimiter(spark, tmp_path, embs, delim):
    """ADVICE r7: read_embeddings CSV used '\\\\' + delimiter as the split
    regex, which turns alphanumeric delimiters into escape classes
    (\\s, \\d, \\w) that silently corrupt every vector. The \\Q…\\E literal
    quote must round-trip ANY delimiter, including multi-char ones."""
    from vicinity_spark.sources.files import read_embeddings, write_embeddings

    p = str(tmp_path / "embs_csv_delim")
    write_embeddings(embs, p, "csv", vector_delimiter=delim)
    back = read_embeddings(spark, p, "csv", vector_delimiter=delim)
    got = {r.id: [round(float(x), 6) for x in r.vector] for r in back.collect()}
    want = {r.id: [round(float(x), 6) for x in r.vector] for r in embs.collect()}
    assert got == want
