"""The index's one on-disk format: native int-list postings and
positions in zstd-compressed Parquet, the same after a batch build and
after streaming compaction; indexes of retired layouts are refused at
load."""

import dataclasses
import json
import os

import pyarrow.parquet as pq
import pytest

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import build_index
from searchengine_spark.query.engine import SearchEngine
from searchengine_spark.streaming.incremental import StreamingIndexer

from .conftest import TEST_CONFIG

POSTINGS_COLUMNS = {
    "term": "string",
    "term_bucket": "int",
    "block_id": "int",
    "n_postings": "int",
    "min_doc_id": "bigint",
    "max_doc_id": "bigint",
    "doc_ids": "array<bigint>",
    "tfs": "array<int>",
    "doc_lens": "array<int>",
    "block_max_bm25": "double",
    "block_max_tfidf": "double",
}
POSITIONS_COLUMNS = {
    "term": "string",
    "term_bucket": "int",
    "doc_id": "bigint",
    "positions": "array<int>",
    "doc_len": "int",
}


def _build(spark, rows, schema, root, cfg):
    out = str(root / "idx")
    build_index(spark, spark.createDataFrame(rows, schema), out, cfg)
    return out, out


def _compact(spark, rows, schema, root, cfg):
    stream_dir = str(root / "stream")
    indexer = StreamingIndexer(spark, stream_dir, cfg)
    indexer.process_batch(spark.createDataFrame(rows[:20], schema), 0)
    indexer.process_batch(spark.createDataFrame(rows[20:], schema), 1)
    out = str(root / "compacted")
    indexer.compact(out)
    # segments are index tables too: check the whole streaming dir
    return out, stream_dir


@pytest.mark.parametrize("make", [_build, _compact], ids=["build", "compact"])
def test_index_format(spark, corpus, tmp_path, make):
    cfg = dataclasses.replace(TEST_CONFIG, positions=True)
    rows = corpus.limit(40).collect()
    index_dir, written_dir = make(spark, rows, corpus.schema, tmp_path, cfg)

    for table, want in (
        ("postings", POSTINGS_COLUMNS),
        ("positions", POSITIONS_COLUMNS),
    ):
        got = dict(spark.read.parquet(f"{index_dir}/{table}").dtypes)
        assert got == want, table

    codecs = set()
    n_files = 0
    for root, _dirs, files in os.walk(written_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            n_files += 1
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                codecs |= {rg.column(c).compression for c in range(rg.num_columns)}
    assert n_files > 0
    assert codecs == {"ZSTD"}

    # the index answers phrase queries identically on both engine paths
    eng = SearchEngine(spark, index_dir)
    matched = 0
    for phrase in ("merge column", "spark table"):
        want = [r.asDict() for r in eng.phrase_search(phrase, local=False).collect()]
        got = [r.asDict() for r in eng.phrase_search(phrase, local=True).collect()]
        assert got == want, phrase
        matched += len(got)
    assert matched > 0


@pytest.mark.parametrize("key", ["compression", "delta_docids", "compress_positions"])
def test_retired_layout_flag_is_rejected(tmp_path, key):
    EngineConfig().save(str(tmp_path))
    path = tmp_path / "flags.json"
    flags = json.loads(path.read_text())
    flags[key] = True
    path.write_text(json.dumps(flags))
    with pytest.raises(ValueError, match=f"{key}=true.*rebuild the index"):
        EngineConfig.load(str(tmp_path))


def test_retired_layout_flags_false_are_dropped(tmp_path):
    cfg = EngineConfig(positions=True)
    cfg.save(str(tmp_path))
    path = tmp_path / "flags.json"
    flags = json.loads(path.read_text())
    flags.update(compression=False, delta_docids=False, compress_positions=False)
    path.write_text(json.dumps(flags))
    assert EngineConfig.load(str(tmp_path)) == cfg
