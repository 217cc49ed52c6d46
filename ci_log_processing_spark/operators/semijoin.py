"""Requested-jobs semi-join — reference `filter_available_jobs`
(logscraper.py:443-454): the user's requested job-name list is
intersected with the names the Zuul API actually serves, and only
builds of surviving jobs are fetched.

Two layers, matching the reference's two halves:

  * config side (S3): `available_requested` — requested ∩ available,
    preserving the REQUESTED order (the reference iterates the
    requested list and keeps hits);
  * data side (J4): `semi_join_requested` — keep fact rows whose key
    is in the surviving set, as a broadcast LEFT SEMI join. The
    requested set is a tiny dimension, so the fact table never
    shuffles — the only shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def available_requested(
    requested: list[str], available: list[str]
) -> list[str]:
    """S3 (driver-side config, like the reference): requested names
    present in the available set, requested order preserved."""
    avail = set(available)
    return [r for r in requested if r in avail]


def semi_join_requested(df: DataFrame, requested: DataFrame) -> DataFrame:
    """J4: broadcast left-semi join — rows whose `tool` appears in the
    requested dimension. Null keys never match (SQL semi-join
    semantics; the reference likewise only fetches named jobs)."""
    dim = requested.select("tool").distinct()
    return df.join(F.broadcast(dim), "tool", "left_semi")
