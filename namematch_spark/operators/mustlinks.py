"""Stage 2 — ground-truth must-links (reference: ``generate_must_links.py``).

A must-link is a record pair known to co-refer because both records carry
the same UniqueID.  Implemented as a self equi-join on the uid key — a
shuffle hash/sort-merge join on ``uid`` that Catalyst plans; no driver-side
work at any scale.

Skew note (100 TB): a uid shared by k records produces k² pair rows.  The
reference guards with warn>200 / error>1000 per uid
(``generate_must_links.py:148-158``); here the guard is a distributed
aggregation and the hot uids are *excluded and reported* rather than
failing the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _must_links_one(all_names: DataFrame, uid_col: str,
                    max_records_per_uid: int) -> DataFrame:
    """Self-join on one UniqueID variable (one iteration of the
    reference's per-ml_var loop, ``generate_must_links.py:160-184``)."""
    base = (
        all_names
        .filter(F.col(uid_col) != "")
        .select(
            F.col("record_id"), F.col("blockstring"),
            F.col("drop_from_nm"), F.col(uid_col).alias("__uid"))
    )
    # Skew guard: drop uids above the cap (quadratic blowup protection).
    counts = base.groupBy("__uid").agg(F.count("*").alias("__n"))
    safe = base.join(
        F.broadcast(counts.filter(F.col("__n") > max_records_per_uid)
                    .select("__uid")),
        "__uid", "left_anti")

    a = safe.alias("a")
    b = safe.alias("b")
    return (
        a.join(b, F.col("a.__uid") == F.col("b.__uid"))
        .filter(
            (F.col("a.blockstring") < F.col("b.blockstring"))
            | ((F.col("a.blockstring") == F.col("b.blockstring"))
               & (F.col("a.record_id") < F.col("b.record_id"))))
        .select(
            F.col("a.record_id").alias("record_id_1"),
            F.col("b.record_id").alias("record_id_2"),
            F.col("a.blockstring").alias("blockstring_1"),
            F.col("b.blockstring").alias("blockstring_2"),
            F.col("a.drop_from_nm").alias("drop_from_nm_1"),
            F.col("b.drop_from_nm").alias("drop_from_nm_2"))
    )


def must_links(all_names: DataFrame,
               uid_col: str | list[str] = "uid",
               max_records_per_uid: int = 1000) -> DataFrame:
    """J1 + J2 + A6 — self-join(s) on the UniqueID variable(s),
    canonical ordering, dedup.

    ``uid_col`` may be a list: the reference loops over EVERY
    UniqueID variable, unions the per-variable pair sets, and
    de-duplicates pairs that match on several IDs
    (``generate_must_links.py:160-193``) — e.g. SSN + agency ID.

    Output schema (reference ``generate_must_links.py:126-136``):
    ``record_id_1, record_id_2, blockstring_1, blockstring_2,
    drop_from_nm_1, drop_from_nm_2``.

    Canonical ordering keeps ``blockstring_1 < blockstring_2 OR
    (equal AND record_id_1 < record_id_2)`` — the reference's J2 filter
    (``generate_must_links.py:166-169``) — so each unordered pair appears
    exactly once.
    """
    uid_cols = [uid_col] if isinstance(uid_col, str) else list(uid_col)
    out = _must_links_one(all_names, uid_cols[0], max_records_per_uid)
    if len(uid_cols) == 1:
        # a single equi-self-join with canonical ordering emits each
        # unordered pair exactly once — a dedup here would be a full
        # shuffle of the must-link set that removes nothing (the pair
        # set is quadratic in per-uid cardinality at 10^12-row scale)
        return out
    for c in uid_cols[1:]:
        out = out.unionByName(
            _must_links_one(all_names, c, max_records_per_uid))
    return out.dropDuplicates(["record_id_1", "record_id_2"])
