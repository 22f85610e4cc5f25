"""Inputs of the benchmark workloads.

* ``BATTERY_TABLES`` — the ten sf0.001 tables the 45-query battery reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings): byte copies of the repository's sf0.001 test
  tables, the data the query oracles and the tests are written against.
  They ship with the benchmark, so a run reads nothing outside its
  checkout. The seed does not change them; it permutes the query order.
* ``write_er_corpus`` — a transcript corpus from the package's own
  generator (``data.transcripts``) at one of its named scales, split 95/5
  into a base and an entity-slice delta for the incremental fold. A pure
  function of (scale, seed), rebuilt on every run: at these sizes a build
  takes well under a second.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BATTERY_TABLES = Path(__file__).resolve().parent / "tables" / "sf0.001"


def table_rows(tables: Path) -> dict[str, int]:
    """Row count of every ``<table>.parquet`` in `tables`, from the footers."""
    return {
        p.stem: pq.read_metadata(p).num_rows for p in sorted(tables.glob("*.parquet"))
    }


@dataclass(frozen=True)
class Corpus:
    base: Path
    delta: Path
    frame: pd.DataFrame  # every turn, for the reference pipeline
    is_delta: pd.Series  # per turn of `frame`
    gold: pd.DataFrame
    n_turns: int
    n_base_turns: int
    n_convs: int
    n_delta_convs: int


def write_er_corpus(out_dir: Path, scale: str, seed: int, n_files: int) -> Corpus:
    """Transcript corpus at ``data.transcripts.SCALES[scale]``, written as
    parquet: ``base`` (95%) and ``delta`` (every conversation of the lowest
    5% of entity ids — new entities arriving, the incremental fold's design
    case)."""
    from tabiya_livelihoods_classifier_spark.data.transcripts import (
        SCALES,
        generate_transcripts,
    )

    turns, gold = generate_transcripts(scale, seed)
    # Spark reads no TIMESTAMP(NANOS) parquet
    turns["ts"] = turns["ts"].astype("datetime64[us]")
    delta_ids = set(gold.conv_id[gold.entity_id < max(1, SCALES[scale].entities // 20)])
    is_delta = turns.conv_id.isin(delta_ids)
    paths = {}
    for part, frame in (("base", turns[~is_delta]), ("delta", turns[is_delta])):
        d = out_dir / f"{part}.parquet"
        d.mkdir(parents=True, exist_ok=True)
        table = pa.Table.from_pandas(frame, preserve_index=False)
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            chunk = table.slice(i * step, step)
            if chunk.num_rows:
                pq.write_table(chunk, d / f"part-{i:05d}.parquet")
        paths[part] = d
    return Corpus(
        base=paths["base"],
        delta=paths["delta"],
        frame=turns,
        is_delta=is_delta,
        gold=gold,
        n_turns=len(turns),
        n_base_turns=int((~is_delta).sum()),
        n_convs=len(gold),
        n_delta_convs=len(delta_ids),
    )
