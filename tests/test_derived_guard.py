"""Exactly-once derived-table claim lifecycle (r13, reference
odibi/derived_updater.py guard-table protocol)."""

import json
import multiprocessing
import os
import time

import pytest

from odibi_spark.patterns.derived_guard import (
    Claim,
    ClaimConflictError,
    DerivedGuard,
)


class TestClaimLifecycle:
    def test_first_claim_wins_then_none(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        t1 = g.try_claim("meta_daily_stats", "run-1")
        assert t1
        assert g.try_claim("meta_daily_stats", "run-1") is None
        # different run / table are independent keys
        assert g.try_claim("meta_daily_stats", "run-2")
        assert g.try_claim("meta_sla_status", "run-1")

    def test_applied_is_terminal_and_token_verified(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("t", "r")
        g.mark_applied("t", "r", tok)
        assert g.status("t", "r").status == "APPLIED"
        # double-apply, wrong token, apply-after-terminal: all fail fast
        with pytest.raises(ClaimConflictError):
            g.mark_applied("t", "r", tok)
        tok2 = "not-the-token"
        with pytest.raises(ClaimConflictError):
            g.mark_failed("t", "r", tok2)
        # no row at all
        with pytest.raises(ClaimConflictError):
            g.mark_applied("t", "missing", tok)

    def test_mark_failed_records_error(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("t", "r")
        g.mark_failed("t", "r", tok, error_message="boom")
        c = g.status("t", "r")
        assert c.status == "FAILED" and c.error_message == "boom"

    def test_key_validation(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        with pytest.raises(ValueError):
            g.try_claim("../escape", "r")
        with pytest.raises(ValueError):
            g.try_claim("t", "a/b")


class TestReclaim:
    def test_failed_claim_is_reclaimable(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("t", "r")
        g.mark_failed("t", "r", tok)
        tok2 = g.reclaim_for_rebuild("t", "r")
        assert tok2 and tok2 != tok
        # the zombie's old token can no longer transition
        with pytest.raises(ClaimConflictError):
            g.mark_applied("t", "r", tok)
        g.mark_applied("t", "r", tok2)

    def test_applied_never_reclaimed(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("t", "r")
        g.mark_applied("t", "r", tok)
        assert g.reclaim_for_rebuild("t", "r") is None

    def test_live_claim_not_reclaimed_stale_is(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("t", "r")
        assert g.reclaim_for_rebuild("t", "r") is None  # fresh owner
        # age the claim artificially past the threshold
        c = g.status("t", "r")
        c.claimed_at = time.time() - 3600 * 2
        _write_v1(g, c.__dict__)
        tok2 = g.reclaim_for_rebuild("t", "r", max_age_minutes=60)
        assert tok2 and tok2 != tok

    def test_missing_row_falls_back_to_claim(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        assert g.reclaim_for_rebuild("t", "never-run") is not None


def _write_v1(g, row):
    """Write ``row`` over the claim's version 1 in place, the way a
    build that kept one file per claim rewrote it."""
    with open(g._path(row["derived_table"], row["run_id"]), "w") as f:
        json.dump(row, f)


def _worker(args):
    root, key = args
    g = DerivedGuard(root)
    return g.try_claim("meta_daily_stats", key)


class TestConcurrency:
    def test_exactly_one_process_wins(self, tmp_path):
        """8 processes claim the same (table, run) concurrently —
        exactly one token is issued (the O_EXCL invariant the
        reference gets from Delta MERGE)."""
        g = DerivedGuard(str(tmp_path))  # pre-create dirs
        with multiprocessing.Pool(8) as pool:
            tokens = pool.map(_worker, [(str(tmp_path), "run-x")] * 8)
        winners = [t for t in tokens if t is not None]
        assert len(winners) == 1
        assert g.status("meta_daily_stats", "run-x").claim_token == winners[0]


class TestApplyOnce:
    def test_replay_runs_fn_exactly_once(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        calls = []
        for _ in range(3):
            g.apply_once("t", "r", lambda: calls.append(1))
        assert len(calls) == 1
        assert g.status("t", "r").status == "APPLIED"

    def test_failure_marks_failed_and_reraises(self, tmp_path):
        g = DerivedGuard(str(tmp_path))

        def boom():
            raise RuntimeError("kaput")

        with pytest.raises(RuntimeError):
            g.apply_once("t", "r", boom)
        assert g.status("t", "r").status == "FAILED"
        # rebuild path: reclaim then apply succeeds
        tok = g.reclaim_for_rebuild("t", "r")
        g.mark_applied("t", "r", tok)

    def test_ran_flag_and_result(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        ran, res = g.apply_once("t", "r", lambda: 42)
        assert ran is True and res == 42
        ran2, res2 = g.apply_once("t", "r", lambda: 43)
        assert ran2 is False and res2 is None


class TestCatalogIntegration:
    def test_claims_frame_and_guarded_daily_stats(self, spark, tmp_path):
        """A replayed run_id must fold into meta_daily_stats ONCE —
        the reference behavior the guard exists for."""
        from odibi_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "cat"))
        batchfold = []

        for _ in range(2):  # same run replayed
            cat.derived_guard.apply_once(
                "meta_daily_stats", "run-77",
                lambda: batchfold.append(1),
            )
        assert len(batchfold) == 1
        rows = cat.derived_guard.claims(spark).collect()
        assert len(rows) == 1
        assert rows[0].status == "APPLIED"
        assert rows[0].derived_table == "meta_daily_stats"


class TestLinkBackConflictRestoresTerminalRow:
    """Reclaim never displaces a terminal row, and '__' keys stay
    distinct (the racing cases are in TestInjectedRaces)."""

    def test_reclaim_race_full_path(self, tmp_path):
        """End-to-end: FAILED row reclaimed while a transition landed
        between the pre-check and the rename — reclaim yields None and
        the transitioned row survives untouched."""
        from odibi_spark.patterns.derived_guard import DerivedGuard

        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("t", "r2")
        g.mark_applied("t", "r2", tok)  # terminal before reclaim runs
        assert g.reclaim_for_rebuild("t", "r2") is None
        assert g.status("t", "r2").status == "APPLIED"

    def test_double_underscore_key_encoded_not_rejected(self, tmp_path):
        # r15 (ADVICE): '__'-bearing components are percent-encoded
        # (collision-free) instead of rejected — rejection made their
        # pre-existing history unreadable on status()/mark_applied()
        from odibi_spark.patterns.derived_guard import DerivedGuard

        g = DerivedGuard(str(tmp_path))
        assert g.try_claim("a__b", "c") is not None
        assert g.try_claim("a", "b__c") is not None  # distinct key
        # single underscores stay legal and keep the legacy filename
        assert g.try_claim("a_b", "c_d") is not None


def _race_at_publish(monkeypatch, race, *, once=True):
    """Run ``race()`` just before each file step that creates, fills or
    swaps a claim file (``os.open``, ``os.fdopen``, ``os.link``,
    ``os.replace``, ``os.rename``), or only before the first with
    ``once``. The hook is off while ``race`` runs, so its own writes go
    through."""
    state = {"busy": False, "ran": 0}

    def wrap(real):
        def hooked(*args, **kwargs):
            if not state["busy"] and not (once and state["ran"]):
                state["busy"] = True
                try:
                    race()
                finally:
                    state["busy"] = False
                    state["ran"] += 1
            return real(*args, **kwargs)

        return hooked

    for name in ("open", "fdopen", "link", "replace", "rename"):
        monkeypatch.setattr(os, name, wrap(getattr(os, name)))
    return state


class TestInjectedRaces:
    """Each race is injected in process, at the step that makes a claim
    write visible: the publish of the next version."""

    def test_zombie_transition_loses_to_reclaim(self, tmp_path, monkeypatch):
        """A zombie owner read its CLAIMED row; a reclaim publishes the
        next version before the zombie's write lands. The zombie raises
        and the reclaimer's claim stands."""
        g = DerivedGuard(str(tmp_path))
        zombie = g.try_claim("t", "r")
        reclaimed = []
        _race_at_publish(
            monkeypatch,
            lambda: reclaimed.append(
                g.reclaim_for_rebuild("t", "r", max_age_minutes=0)
            ),
        )
        with pytest.raises(ClaimConflictError):
            g.mark_applied("t", "r", zombie)
        monkeypatch.undo()
        assert reclaimed[0] not in (None, zombie)
        g.mark_applied("t", "r", reclaimed[0])
        now = g.status("t", "r")
        assert (now.status, now.claim_token) == ("APPLIED", reclaimed[0])

    def test_status_during_try_claim_never_reads_a_partial_row(
        self, tmp_path, monkeypatch
    ):
        g = DerivedGuard(str(tmp_path))
        seen = []
        state = _race_at_publish(
            monkeypatch, lambda: seen.append(g.status("t", "r")), once=False
        )
        token = g.try_claim("t", "r")
        monkeypatch.undo()
        assert state["ran"] >= 1 and token is not None
        for c in seen:  # absent, or the whole claim
            assert c is None or (c.claim_token, c.status) == (token, "CLAIMED")

    def test_applied_row_survives_racing_reclaim(self, tmp_path, monkeypatch):
        """A reclaim decided on a stale CLAIMED row; the owner's
        mark_applied lands before the reclaim's write. The reclaim
        yields, APPLIED stands, and no try_claim can take the key."""
        g = DerivedGuard(str(tmp_path))
        owner = g.try_claim("t", "r")
        _race_at_publish(monkeypatch, lambda: g.mark_applied("t", "r", owner))
        assert g.reclaim_for_rebuild("t", "r", max_age_minutes=0) is None
        monkeypatch.undo()
        now = g.status("t", "r")
        assert (now.status, now.claim_token) == ("APPLIED", owner)
        assert g.try_claim("t", "r") is None
        assert g.reclaim_for_rebuild("t", "r", max_age_minutes=0) is None

    def test_double_mark_applied_exactly_one_wins(self, tmp_path, monkeypatch):
        """Two mark_applied calls on one token: the one that publishes
        first wins, the other raises, and the winner's record is kept
        as the claim's newest version."""
        g = DerivedGuard(str(tmp_path))
        token = g.try_claim("t", "r")
        won = []
        _race_at_publish(
            monkeypatch,
            lambda: won.append(g.mark_applied("t", "r", token)),
        )
        with pytest.raises(ClaimConflictError):
            g.mark_applied("t", "r", token)
        monkeypatch.undo()
        assert won == [None]
        assert g.status("t", "r").status == "APPLIED"
        assert sorted(os.listdir(tmp_path / "claims")) == [
            "t__r.json", "t__r.json.2",
        ]

    def test_claim_in_older_format_keeps_its_status(self, tmp_path):
        """A claim file an older build rewrote in place to APPLIED
        reads as version 1: apply_once skips it, and neither a claim
        nor a reclaim takes the key."""
        g = DerivedGuard(str(tmp_path))
        _write_v1(g, {
            "derived_table": "meta_daily_stats", "run_id": "run-1",
            "claim_token": "old", "status": "APPLIED",
            "claimed_at": 1.0, "applied_at": 2.0, "error_message": None,
        })
        calls = []
        assert g.apply_once(
            "meta_daily_stats", "run-1", lambda: calls.append(1)
        ) == (False, None)
        assert calls == []
        assert g.status("meta_daily_stats", "run-1").claim_token == "old"
        assert g.reclaim_for_rebuild("meta_daily_stats", "run-1") is None


class TestLocalRoot:
    def test_file_uri_root_keeps_claims_under_the_root(
        self, spark, tmp_path, monkeypatch
    ):
        from odibi_spark.catalog import Catalog

        cwd = tmp_path / "cwd"
        cwd.mkdir()
        monkeypatch.chdir(cwd)
        cat = Catalog(spark, f"file://{tmp_path}/cat")
        ran, _ = cat.derived_guard.apply_once(
            "meta_daily_stats", "run-1", lambda: None
        )
        assert ran
        assert (
            tmp_path / "cat" / "meta_derived_applied_runs" / "claims"
            / "meta_daily_stats__run-1.json"
        ).exists()
        assert list(cwd.iterdir()) == []
        # a replay from another directory sees the claim
        monkeypatch.chdir(tmp_path)
        assert cat.derived_guard.apply_once(
            "meta_daily_stats", "run-1", lambda: None
        ) == (False, None)

    def test_claims_commit_through_hadoop_files(
        self, spark, tmp_path, monkeypatch
    ):
        """A root with another scheme takes the Hadoop FileSystem
        operations a ``ParquetTarget`` takes there; forced on a
        ``file://`` root, claim -> applied -> ``claims()`` runs through
        them."""
        from odibi_spark.patterns import derived_guard
        from odibi_spark.patterns.merge_target import _HadoopFiles

        root = f"file://{tmp_path}/guard"
        monkeypatch.setattr(
            derived_guard, "_LocalFiles", lambda: _HadoopFiles(spark, root)
        )
        g = DerivedGuard(root)
        assert isinstance(g._fs, _HadoopFiles)
        tok = g.try_claim("t", "r")
        assert tok and g.try_claim("t", "r") is None
        g.mark_applied("t", "r", tok)
        with pytest.raises(ClaimConflictError):
            g.mark_applied("t", "r", tok)
        rows = g.claims(spark).collect()
        assert [(r.derived_table, r.run_id, r.status) for r in rows] == [
            ("t", "r", "APPLIED")
        ]
        assert sorted(
            n for n in os.listdir(tmp_path / "guard" / "claims")
            if not n.startswith(".")
        ) == ["t__r.json", "t__r.json.2"]


class TestClaimsListing:
    def test_stray_json_sidecar_is_not_a_key(self, spark, tmp_path):
        """An older build's ``<key>.json.usurped.<token>.json`` sidecar
        ends in ``.json`` too: only each key's version 1 is a row, also
        for a key whose run id holds ``.json.``."""
        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("t", "r1")
        g.mark_applied("t", "r1", tok)
        assert g.try_claim("t", "a.json.b")
        base = g._path("t", "r1")
        with open(base, encoding="utf-8") as f:
            row = json.load(f)
        with open(f"{base}.usurped.{tok}.json", "w", encoding="utf-8") as f:
            json.dump(row, f)
        got = sorted((r.derived_table, r.run_id, r.status) for r in g.claims(spark).collect())
        assert got == [("t", "a.json.b", "CLAIMED"), ("t", "r1", "APPLIED")]
