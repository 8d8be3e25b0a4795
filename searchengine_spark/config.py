"""Engine configuration — the Spark-native analogue of the reference's
persisted ``Flags`` (reference: utils/Flags.java:15-19, stored/reloaded at
Flags.java:31-79) plus the hard-coded constants of utils/Constants.java.

The reference persists two booleans (stopword/stem, compression) in a binary
``flags`` file; we persist the whole config as JSON next to the index so a
query session reconstructs the exact build semantics (Query.java:54 re-reads
flags before answering queries). Compression is not a flag here: the index
has one on-disk layout, native int lists in zstd Parquet
(index/builder.py ``write_table``).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field, fields


@dataclass(frozen=True)
class EngineConfig:
    # --- reference Flags (Flags.java:15-19) ---
    # stopword removal + Porter stemming, one switch like the reference's
    # "sws" flag (TextProcessor.java:30-33 applies both under it)
    stopstem: bool = True

    # Orthogonal split of the reference's single sws flag: the DuckDB
    # correctness oracles can replicate stopword removal in SQL but not
    # Porter stemming, so each half can be toggled alone. When ``stopstem``
    # is True both are applied, reference-style.
    stopwords_only: bool = False

    # --- scoring constants (query/scores/Score.java:12-13) ---
    k1: float = 1.2
    b: float = 0.75

    # --- skip blocks (utils/Constants.java:36; IndexMerger.java:172-205) ---
    # lists with >= skip_threshold postings are split into blocks of
    # ceil(sqrt(n)) postings each
    skip_threshold: int = 1024

    # 'count': reference-faithful ceil(sqrt(n))-sized blocks (needs a
    #          per-term window sort — fine up to ~1e9 postings/term).
    # 'range': doc_id-range-based blocks — fully shuffle-parallel, no
    #          per-term sort bottleneck; the scale path for 1e12 files
    #          where a hot code token ('def', 'import') has 1e11 postings.
    # Query results are identical either way; only block boundaries differ.
    block_mode: str = "range"

    # term truncation to 20 bytes (Constants.java:34 TERM_DIM,
    # PartialIndexBuilder.java:69-71)
    term_dim: int = 20

    # also materialize a positional index (term, doc_id, positions) —
    # positions are 0-based indices into the POST-pipeline token sequence
    # (after stopword removal/stemming/truncation), enabling phrase
    # queries. Beyond the reference (which has no positions); off by
    # default because it roughly doubles index size.
    positions: bool = False

    # number of term hash-buckets the postings/lexicon tables are
    # partitioned by (query-time partition pruning on pmod(crc32(term)) —
    # crc32 so external engines/oracles can reproduce the bucketing)
    n_term_buckets: int = 32

    # shuffle partitions hint for the build
    shuffle_partitions: int = 32

    def apply_stopwords(self) -> bool:
        return self.stopstem or self.stopwords_only

    def apply_stemming(self) -> bool:
        return self.stopstem and not self.stopwords_only

    def save(self, index_dir: str) -> None:
        os.makedirs(index_dir, exist_ok=True)
        with open(os.path.join(index_dir, "flags.json"), "w") as f:
            json.dump(asdict(self), f, indent=2, sort_keys=True)

    @classmethod
    def load(cls, index_dir: str) -> "EngineConfig":
        with open(os.path.join(index_dir, "flags.json")) as f:
            raw = json.load(f)
        names = {f.name for f in fields(cls)}
        # a switch this engine does not have, turned on, marks an index
        # it cannot read — e.g. the retired VByte/Unary, delta-VByte and
        # compressed-positions layouts. Fail here, not deep in a read.
        for k, v in raw.items():
            if k not in names and v is True:
                raise ValueError(
                    f"{index_dir}: flags.json sets {k}=true, an index "
                    "layout this engine no longer reads; rebuild the index"
                )
        return cls(**{k: v for k, v in raw.items() if k in names})
