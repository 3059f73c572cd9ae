"""Round-15 ADVICE regression tests: hard_negative_pairs mode gate,
synth_wav object-dtype guard and derived-guard '__' key encoding.
The races its link-back tests covered are injected against the
versioned claim records in
``tests/test_derived_guard.py::TestInjectedRaces``."""

import os
import struct
import warnings

import numpy as np
import pytest

from odibi_spark.llm import mixing
from odibi_spark.llm.multimodal import synth_wav_pcm16
from odibi_spark.patterns.derived_guard import DerivedGuard


def _vec_df(spark, vecs, start_id=0):
    rows = [
        (i + start_id, [float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class TestHardNegativeMode:
    def _df(self, spark, n=12, dim=8, seed=5):
        rng = np.random.default_rng(seed)
        V = rng.standard_normal((n, dim))
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        return _vec_df(spark, V)

    def test_auto_over_gate_warns(self, spark):
        df = self._df(spark)
        with pytest.warns(mixing.HardNegativeApproximationWarning):
            mixing.hard_negative_pairs(
                df, "vec_id", "embedding", max_anchors=3, dim=8,
                num_planes=4,
            ).collect()

    def test_exact_mode_never_switches_or_warns(self, spark):
        df = self._df(spark)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            exact_small_gate = mixing.hard_negative_pairs(
                df, "vec_id", "embedding", max_anchors=3, dim=8,
                mode="exact",
            ).collect()
        ref = mixing.hard_negative_pairs(
            df, "vec_id", "embedding", max_anchors=None, dim=8,
        ).collect()
        assert sorted(map(tuple, exact_small_gate)) == sorted(
            map(tuple, ref)
        )

    def test_lsh_mode_is_subset_of_exact(self, spark):
        df = self._df(spark)
        # k large enough that top-k never truncates: the candidate
        # restriction must then yield a strict subset of exact pairs
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # explicit mode: no warning
            lsh = mixing.hard_negative_pairs(
                df, "vec_id", "embedding", dim=8, num_planes=4,
                mode="lsh", k=1000,
            ).collect()
        exact = mixing.hard_negative_pairs(
            df, "vec_id", "embedding", dim=8, mode="exact", k=1000,
        ).collect()
        exact_pairs = {(r.anchor_id, r.neg_id) for r in exact}
        assert {(r.anchor_id, r.neg_id) for r in lsh} <= exact_pairs

    def test_bad_mode_rejected(self, spark):
        df = self._df(spark, n=3)
        with pytest.raises(ValueError, match="mode"):
            mixing.hard_negative_pairs(
                df, "vec_id", "embedding", mode="fuzzy"
            )


class TestSynthWavObjectDtype:
    def test_object_dtype_nonintegral_rejected(self):
        with pytest.raises(struct.error):
            synth_wav_pcm16(np.array([1, 2.5], dtype=object))

    def test_object_dtype_decimal_nonintegral_rejected(self):
        from decimal import Decimal

        with pytest.raises(struct.error):
            synth_wav_pcm16([1, Decimal("2.5")])

    def test_object_dtype_integral_values_accepted(self):
        from decimal import Decimal

        a = synth_wav_pcm16([1, Decimal("2"), np.int32(3)])
        b = synth_wav_pcm16([1, 2, 3])
        assert a == b

    def test_float_nonintegral_still_rejected(self):
        with pytest.raises(struct.error):
            synth_wav_pcm16([1.5])


class TestDerivedGuardKeyEncoding:
    def test_dunder_keys_claimable_and_readable(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        tok = g.try_claim("dim__customer", "run__7")
        assert tok is not None
        g.mark_applied("dim__customer", "run__7", tok)
        assert g.status("dim__customer", "run__7").status == "APPLIED"
        # second claim on the same key refused
        assert g.try_claim("dim__customer", "run__7") is None

    def test_dunder_keys_collision_free(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        t1 = g.try_claim("a__b", "c")
        t2 = g.try_claim("a", "b__c")
        assert t1 is not None and t2 is not None
        g.mark_applied("a__b", "c", t1)
        assert g.status("a__b", "c").status == "APPLIED"
        assert g.status("a", "b__c").status == "CLAIMED"

    def test_plain_keys_keep_legacy_filename(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        g.try_claim("dim_customer", "r1")
        assert os.path.exists(
            tmp_path / "claims" / "dim_customer__r1.json"
        )

    def test_slash_and_dot_still_rejected(self, tmp_path):
        g = DerivedGuard(str(tmp_path))
        with pytest.raises(ValueError):
            g.try_claim("a/b", "r")
        with pytest.raises(ValueError):
            g.try_claim(".hidden", "r")
