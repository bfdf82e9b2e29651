"""The per-row runner shared by the Python-kernel operators in
:mod:`.text`, :mod:`.dedup`, :mod:`.curation` and :mod:`.multimodal`."""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def _map_rows(df: DataFrame, cols: list[str], out: str,
              row: Callable[..., list[tuple]]) -> DataFrame:
    """The one Arrow-batch loop under every per-row operator:
    ``mapInPandas`` over ``df.select(*cols)``, calling ``row`` with each
    input row's values. ``row`` returns that row's output tuples in the
    column order of the ``out`` DDL — one for a 1→1 kernel, none for a
    row with no output, any number for a 1→N fan-out — so the loop stays
    map-only, with no shuffle.

    ``row`` is unpickled once per task, so a dict it closes over (a memo
    or hash cache) lives for one task and starts empty in the next."""
    names = [c.split()[0] for c in out.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = zip(*(pdf[c] for c in cols))
            yield pd.DataFrame([t for vals in rows for t in row(*vals)],
                               columns=names)

    return df.select(*cols).mapInPandas(batches, schema=out)
