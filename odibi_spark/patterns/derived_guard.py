"""Exactly-once claim lifecycle for derived-table updates.

Open-format twin of the reference's DerivedUpdater guard table
(reference: odibi/derived_updater.py:155-430 — a Delta
``meta_derived_applied_runs`` table driven by MERGE-insert-only +
claim-token verify, with the invariants: try_claim / mark_applied /
mark_failed are FAIL-FAST and never swallow exceptions; APPLIED is
terminal). A derived rollup like ``meta_daily_stats`` folds each run
exactly once even when a pipeline is retried, replayed, or raced by a
concurrent scheduler: the FIRST claimant of (derived_table, run_id)
wins, everyone else sees None and skips.

Each claim is a dense sequence of JSON records under ``{root}/claims/``:
version 1 is ``<table>__<run>.json``, version n >= 2 is
``<table>__<run>.json.<n>`` (no key's version 1 ends in a digit, so the
names cannot collide). Every call reads the newest version n (the
galloping probe ``merge_target.latest_version``), decides, and
publishes n+1 whole and only if that version is free — the exclusive
publish behind ``ParquetTarget``'s ``_log/<n>.json`` (``os.link``
locally, a Hadoop rename on other URIs), the ``_spark_metadata`` log
model of Structured Streaming:

- CLAIM = publish version 1 — exactly one creator wins (the MERGE WHEN
  NOT MATCHED INSERT twin).
- TRANSITION = read n -> token verify -> publish n+1 — the
  UPDATE ... WHERE claim_token = ? twin; a zombie whose claim was
  reclaimed, or whose transition raced another, loses the publish and
  raises (fail-fast, never a silent double apply).
- RECLAIM = publish n+1 as a fresh CLAIMED; a lost publish yields None.

No record is rewritten or deleted, so a reader never sees a partial
record and a claim's history stays on disk. A claim file written in
place by an older build reads as its version 1.

On a real deployment the same API runs against Delta MERGE (the
reference's SQL is reproduced in the docstrings of each method); this
module keeps the LIFECYCLE — states CLAIMED -> APPLIED | FAILED,
token ownership, stale-claim reclaim — testable without the Delta jar
(sandbox-blocked, COVERAGE.md item 9).
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

from odibi_spark.patterns.merge_target import _HadoopFiles, _LocalFiles, latest_version

VALID_STATUSES = ("CLAIMED", "APPLIED", "FAILED")

#: default stale-claim threshold for reclaim eligibility
#: (reference: derived_updater.py MAX_CLAIM_AGE_MINUTES = 60)
MAX_CLAIM_AGE_MINUTES = 60


@dataclass
class Claim:
    derived_table: str
    run_id: str
    claim_token: str
    status: str
    claimed_at: float
    applied_at: float | None = None
    error_message: str | None = None


class ClaimConflictError(RuntimeError):
    """A token-verified transition found the claim owned by someone
    else (reclaimed, already transitioned, or never ours). Fail-fast by
    contract."""


def _version(base: str, n: int) -> str:
    """Version n of the claim whose version 1 is ``base``."""
    return base if n == 1 else f"{base}.{n}"


class DerivedGuard:
    """Guard table for exactly-once derived-table updates."""

    def __init__(self, root: str):
        """``root`` is a path or a URI; a URI other than ``file:`` goes
        through the Hadoop FileSystem of the active Spark session."""
        url = urllib.parse.urlparse(root)
        if url.scheme in ("", "file"):
            self._dir = f"{urllib.parse.unquote(url.path) if url.scheme else root}/claims"
            self._fs = _LocalFiles()
            os.makedirs(self._dir, exist_ok=True)
        else:
            self._dir, self._fs = f"{root}/claims", _HadoopFiles(SparkSession.active(), root)

    # -- storage helpers ---------------------------------------------------

    def _path(self, derived_table: str, run_id: str) -> str:
        # "__" separates the components, so a "__" inside one is
        # percent-encoded (with "%" itself): ('a__b', 'c') and
        # ('a', 'b__c') stay distinct keys, and components without
        # "%" or "__" keep their plain filename. A claim an older build
        # wrote for a "__"-bearing key under the raw name is not found
        # under the encoded one; rename it by hand to keep it.
        parts = []
        for part in (derived_table, run_id):
            if "/" in part or part.startswith("."):
                raise ValueError(f"invalid claim key component {part!r}")
            parts.append(
                part.replace("%", "%25").replace("__", "%5F%5F")
            )
        return f"{self._dir}/{parts[0]}__{parts[1]}.json"

    def _newest(self, base: str) -> tuple[int, Claim | None]:
        """The newest version n of the claim whose version 1 is
        ``base`` (0 when unclaimed) and that version's row."""
        n = latest_version(lambda v: self._fs.exists(_version(base, v)))
        if n == 0:
            return 0, None
        return n, Claim(**json.loads(self._fs.read_text(_version(base, n))))

    def _publish(self, base: str, n: int, claim: Claim) -> bool:
        """Publish version ``n`` whole; False when another writer took it."""
        return self._fs.publish(_version(base, n), json.dumps(claim.__dict__))

    # -- lifecycle ----------------------------------------------------------

    def try_claim(self, derived_table: str, run_id: str) -> str | None:
        """Claim (derived_table, run_id); returns the claim token, or
        None when the key is already claimed/applied/failed by anyone
        (reference _try_claim_spark: MERGE WHEN NOT MATCHED INSERT,
        then verify our token won). The exclusive publish of version 1
        has exactly one winner across processes on one filesystem."""
        token = str(uuid.uuid4())
        claim = Claim(derived_table, run_id, token, "CLAIMED", time.time())
        base = self._path(derived_table, run_id)
        return token if self._publish(base, 1, claim) else None

    def _transition(
        self,
        derived_table: str,
        run_id: str,
        claim_token: str,
        status: str,
        error_message: str | None,
    ) -> None:
        base = self._path(derived_table, run_id)
        n, cur = self._newest(base)
        if cur is None:
            raise ClaimConflictError(
                f"no claim row for {derived_table}/{run_id} (never claimed)"
            )
        if cur.claim_token != claim_token or cur.status != "CLAIMED":
            raise ClaimConflictError(
                f"claim {derived_table}/{run_id} is {cur.status} under "
                f"token {cur.claim_token[:8]}…, not ours"
            )
        cur.status = status
        cur.applied_at = time.time()
        cur.error_message = error_message
        if not self._publish(base, n + 1, cur):
            raise ClaimConflictError(
                f"claim {derived_table}/{run_id} changed after this "
                f"transition read version {n} (reclaimed or transitioned)"
            )

    def mark_applied(
        self, derived_table: str, run_id: str, claim_token: str
    ) -> None:
        """CLAIMED -> APPLIED, token-verified (reference
        _mark_applied_spark: UPDATE ... WHERE claim_token = ? AND
        status = 'CLAIMED'). Raises ClaimConflictError when the row is
        missing, terminal, owned by another token, or changed before
        the publish — fail-fast."""
        self._transition(derived_table, run_id, claim_token, "APPLIED", None)

    def mark_failed(
        self,
        derived_table: str,
        run_id: str,
        claim_token: str,
        error_message: str | None = None,
    ) -> None:
        """CLAIMED -> FAILED, token-verified; the key becomes eligible
        for :meth:`reclaim_for_rebuild`."""
        self._transition(
            derived_table, run_id, claim_token, "FAILED", error_message
        )

    def status(self, derived_table: str, run_id: str) -> Claim | None:
        """The claim's newest version; None when unclaimed."""
        return self._newest(self._path(derived_table, run_id))[1]

    def reclaim_for_rebuild(
        self,
        derived_table: str,
        run_id: str,
        max_age_minutes: int = MAX_CLAIM_AGE_MINUTES,
    ) -> str | None:
        """Re-claim a FAILED or stale-CLAIMED key for a rebuild
        (reference _reclaim_for_rebuild_spark: CAS UPDATE, falling
        back to try_claim when no row exists). APPLIED is terminal —
        never reclaimed. Returns a fresh token, or None when the key is
        not eligible or another writer published the next version
        first (the decision is then on a stale row)."""
        base = self._path(derived_table, run_id)
        n, cur = self._newest(base)
        if cur is None:
            return self.try_claim(derived_table, run_id)
        if cur.status == "APPLIED":
            return None  # terminal
        age_min = (time.time() - cur.claimed_at) / 60.0
        if cur.status == "CLAIMED" and age_min < max_age_minutes:
            return None  # live owner
        token = str(uuid.uuid4())
        fresh = Claim(derived_table, run_id, token, "CLAIMED", time.time())
        return token if self._publish(base, n + 1, fresh) else None

    # -- composition ---------------------------------------------------------

    def apply_once(self, derived_table: str, run_id: str, fn):
        """Run ``fn()`` exactly once per (derived_table, run_id):
        claim -> fn -> APPLIED, marking FAILED (and re-raising) when
        fn throws. Returns (ran: bool, result | None). The idiom the
        reference wraps around every derived-table fold."""
        token = self.try_claim(derived_table, run_id)
        if token is None:
            return False, None
        try:
            result = fn()
        except BaseException as e:
            self.mark_failed(
                derived_table, run_id, token, error_message=str(e)[:500]
            )
            raise
        self.mark_applied(derived_table, run_id, token)
        return True, result

    def claims(self, spark):
        """All guard rows as a DataFrame (catalog surface:
        the reference exposes meta_derived_applied_runs as a
        queryable meta table)."""
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("derived_table", T.StringType()),
            T.StructField("run_id", T.StringType()),
            T.StructField("claim_token", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("claimed_at", T.DoubleType()),
            T.StructField("applied_at", T.DoubleType()),
            T.StructField("error_message", T.StringType()),
        ])
        rows = []
        for name, _, _ in sorted(self._fs.ls(self._dir)):
            base = f"{self._dir}/{name}"
            c = self._newest(base)[1] if name.endswith(".json") else None
            # only a key's version 1, which its record names (a stray
            # .json, such as an older build's sidecar, is skipped)
            if c is not None and self._path(c.derived_table, c.run_id) == base:
                rows.append((
                    c.derived_table, c.run_id, c.claim_token, c.status,
                    float(c.claimed_at),
                    float(c.applied_at) if c.applied_at else None,
                    c.error_message,
                ))
        return spark.createDataFrame(rows, schema)
