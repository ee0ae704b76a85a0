"""Text functions, multimodal plumbing, API-key semantics."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from strava_data_pipeline_spark.api.service import PipelineService
from strava_data_pipeline_spark.functions import text as T
from strava_data_pipeline_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (1, "the cat and the dog", "en"),
        (2, "der hund und die katze", "de"),
        (3, "xyzzy plugh qwertz", "xx"),
        (4, "a b! c, d. e?", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_token_counts(spark, tdf):
    out = {r["doc_id"]: r for r in tdf.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("ws"),
        T.bpe_token_count(F.col("text")).alias("bpe"),
    ).collect()}
    assert out[1]["ws"] == 5
    assert out[4]["ws"] == 5
    assert out[4]["bpe"] == 9  # 5 letters + 4 punct


def test_predict_lang_markers(spark, tdf):
    out = {r["doc_id"]: r["pred"] for r in tdf.select(
        "doc_id", T.predict_lang(T.tokens(F.col("text"))).alias("pred")
    ).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(T.word_shingles(T.tokens(F.col("text"))).alias("s")).collect()
    assert out[0]["s"] == ["a b c", "b c d"]


def test_char_ngrams_distinct(spark):
    df = spark.createDataFrame([("aaaa",)], "text string")
    out = df.select(T.char_ngrams(F.col("text")).alias("g")).collect()
    assert out[0]["g"] == ["aaa"]


def test_short_texts_yield_empty_shingles_and_grams(spark):
    # Regression: sequence(1, 0) steps DOWN in Spark ([1, 0]) — an
    # unguarded plan aborts on slice(toks, 0, 3) for <n-token docs and
    # emits short grams (vs the oracle's empty range) for <n-char docs.
    rows = [(1, ""), (2, "a"), (3, "ab"), (4, "one two"), (5, "  ")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.word_shingles(T.tokens(F.col("text"))).alias("s"),
            T.char_ngrams(F.col("text")).alias("g"),
        ).collect()
    }
    for i in rows:
        assert out[i[0]]["s"] == []
    assert out[1]["g"] == []
    assert out[2]["g"] == []
    assert out[3]["g"] == []
    assert out[4]["g"] == ["one", "ne ", "e t", " tw", "two"]


class TestMultimodal:
    def test_payload_roundtrip(self, spark, tdf):
        media = M.attach_payload(tdf)
        row = media.where(F.col("doc_id") == 1).collect()[0]
        assert bytes(row["payload"]).decode() == "the cat and the dog"
        assert 64 <= row["width"] < 64 + 1857
        assert 1 <= row["n_frames"] <= 30

    def test_extract_features_mapinpandas(self, spark, tdf):
        media = M.attach_payload(tdf)
        feats = {r["doc_id"]: r for r in M.extract_features(media).collect()}
        assert feats[1]["n_bytes"] == len("the cat and the dog")
        ref = M.fake_decode(b"the cat and the dog")
        assert feats[1]["mean_byte"] == ref["mean_byte"]
        assert feats[1]["hist_1"] == ref["hist"][1]

    def test_codec_stubs_raise(self):
        # unknown formats route to the honest stub; all five planted
        # formats are real — see the codec test classes. (The payload
        # below is NOT the PNG magic — \r\n\x1a\n differs — so it
        # exercises the unknown-format fallthrough.)
        with pytest.raises(NotImplementedError):
            M.decode_image(b"\x89PNG....")
        with pytest.raises(NotImplementedError):
            M.resize_image(b"\x89PNG....", 2, 2)
        # sample_frames is REAL now (see TestFrameSampling); unknown
        # formats still route to the typed stub through decode_frames
        with pytest.raises(NotImplementedError):
            M.sample_frames(b"\x89PNG....", 2)
        # real resize on a real format: nearest-neighbor identity at
        # the same dims returns the same raster re-encoded as P6
        p = M.plant_ppm(42)
        d = M.decode_image(p)
        same = M.decode_image(M.resize_image(p, d["width"], d["height"]))
        assert same["pixels"] == d["pixels"]


class TestPpmDecode:
    """The real pure-python P6 codec (r5 VERDICT task 7)."""

    def test_roundtrip_known_pixels(self):
        px = bytes(range(2 * 3 * 3))  # 2x3 image, 18 raster bytes
        d = M.decode_image(M.encode_ppm(2, 3, px))
        assert (d["width"], d["height"], d["maxval"]) == (2, 3, 255)
        assert d["pixels"] == px

    def test_header_comments_and_whitespace(self):
        px = bytes(12)
        payload = b"P6 # a comment\n# another\n 2\t2 \n255\n" + px
        d = M.decode_image(payload)
        assert (d["width"], d["height"]) == (2, 2)
        assert d["pixels"] == px

    def test_truncated_raster_raises(self):
        with pytest.raises(ValueError):
            M.decode_image(b"P6\n2 2\n255\n" + bytes(11))

    def test_bad_header_raises(self):
        with pytest.raises(ValueError):
            M.decode_image(b"P6\n2 x\n255\n" + bytes(12))

    def test_encode_rejects_wrong_raster_size(self):
        with pytest.raises(ValueError):
            M.encode_ppm(2, 2, bytes(11))

    def test_plant_decode_stats_match_arithmetic(self):
        # the oracle's closed form vs the real parse, off-Spark
        for x in (0, 7, 123456789, 4294967295):
            d = M.decode_image(M.plant_ppm(x))
            w, h, base = 4 + x % 13, 4 + (x // 7) % 9, x % 251
            assert (d["width"], d["height"]) == (w, h)
            want_r = sum((base + 3 * p) % 256 for p in range(w * h))
            got_r = sum(d["pixels"][0 :: 3])
            assert got_r == want_r

    def test_spark_pipeline_end_to_end(self, spark, tdf):
        from strava_data_pipeline_spark.functions.hashing import md5_u32

        seeded = tdf.select(
            F.col("doc_id"), md5_u32(F.col("text")).alias("x")
        )
        stats = {
            r["doc_id"]: r
            for r in M.extract_image_stats(
                M.attach_ppm_payload(seeded)
            ).collect()
        }
        x = seeded.where(F.col("doc_id") == 1).collect()[0]["x"]
        d = M.decode_image(M.plant_ppm(int(x)))
        row = stats[1]
        assert (row["width"], row["height"]) == (d["width"], d["height"])
        assert row["sum_g"] == sum(d["pixels"][1 :: 3])
        assert row["mean_g_q4"] == row["sum_g"] * 10000 // row["n_pixels"]


class TestApiKeys:
    """Validation semantics parity: user_api_keys_test.go."""

    def test_valid_key(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("test", expiry_days=30, user_id=7)
        assert svc.validate_api_key(key)

    def test_unknown_key_invalid(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        assert not svc.validate_api_key("nope")

    def test_expired_key_invalid(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("test", expiry_days=1, user_id=7)
        future = datetime.utcnow() + timedelta(days=2)
        assert not svc.validate_api_key(key, now=future)

    def test_never_expires(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("test", expiry_days=0, user_id=7)
        far = datetime.utcnow() + timedelta(days=3650)
        assert svc.validate_api_key(key, now=far)

    def test_keys_for_user(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        svc.create_api_key("a", 10, user_id=1)
        svc.create_api_key("b", 10, user_id=1)
        svc.create_api_key("c", 10, user_id=2)
        assert svc.keys_for_user(1).count() == 2

    def test_revocation_visible_immediately(self, spark, sf_dir):
        # Staleness bound under concurrent rotation (VERDICT r4 task 8):
        # validate_api_key scans the LIVE _key_rows list on every call —
        # there is no cached driver snapshot — so a deactivation or
        # deletion in the same session must never serve the revoked key
        # again. create → validate → revoke → validate, both revocation
        # paths, plus re-activation.
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("rotating", expiry_days=30, user_id=7)
        assert svc.validate_api_key(key)
        assert svc.update_api_key(key, is_active=False)
        assert not svc.validate_api_key(key), "deactivated key served stale"
        assert svc.update_api_key(key, is_active=True)
        assert svc.validate_api_key(key)
        assert svc.delete_api_key(key)
        assert not svc.validate_api_key(key), "deleted key served stale"
        # the analytical views see the same state (no divergent copy)
        assert svc.read_api_key(key).count() == 0


class TestUserCrud:
    """User-dim CRUD parity: user.go:34,56,74,92,110,125. The dim is
    built once per mutation, so each test looks up before and after a
    mutation."""

    def test_create_and_lookups(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        assert svc.get_user_by_username("new_athlete").count() == 0
        uid = svc.create_user("new_athlete", athlete_id=555)
        assert svc.get_user_by_id(uid).take(1)[0]["username"] == "new_athlete"
        assert svc.get_user_by_username("new_athlete").take(1)[0]["user_id"] == uid
        assert svc.get_user_by_athlete_id(555).take(1)[0]["user_id"] == uid

    def test_base_dim_visible(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        # customer-derived base users resolve through the same lookups
        assert svc.get_user_by_id(1).count() == 1

    def test_update_overlays_base(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        assert svc.update_user(1, username="renamed")
        got = svc.get_user_by_id(1).take(1)[0]
        assert got["username"] == "renamed"
        # unchanged field carried over
        assert got["athlete_id"] == 1 + 10**7
        # no duplicate row for the overlaid id
        assert svc.get_user_by_id(1).count() == 1
        assert svc.update_user(1, athlete_id=77)
        got = svc.get_user_by_id(1).take(1)[0]
        assert (got["username"], got["athlete_id"]) == ("renamed", 77)

    def test_delete_tombstones(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        assert svc.get_user_by_id(3).count() == 1
        assert svc.delete_user(2)
        assert svc.get_user_by_id(2).count() == 0
        assert svc.delete_user(3)
        assert svc.get_user_by_id(3).count() == 0
        assert not svc.update_user(2, username="zombie")
        assert not svc.delete_user(2)


class TestKeyLifecycle:
    """Key mutation parity: user_api_keys.go:94,111,135,161."""

    def test_driver_held_rows_run_no_spark_job(self, spark, sf_dir, spark_jobs):
        """The keys and the user overlay are local relations: a lookup
        over them runs no Spark job (a copied customer version for the
        users) and returns the rows a frame built from the row list
        returns, timestamps included."""
        from strava_data_pipeline_spark.api.service import KEY_SCHEMA

        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("svc", expiry_days=30, user_id=7)
        svc.create_api_key("forever", expiry_days=0, user_id=7)  # NULL expires_at
        rows = spark.createDataFrame(svc._key_rows, KEY_SCHEMA)
        for got, want in (
            (lambda: svc.keys_for_user(7), rows.where(F.col("user_id") == 7)),
            (lambda: svc.read_api_key(key), rows.where(F.col("key") == key)),
        ):
            collected = []
            assert spark_jobs(lambda: collected.extend(got().collect())) == 0
            assert got().schema == KEY_SCHEMA
            assert sorted(collected) == sorted(want.collect())
        for _ in range(2):  # the second read copies customer's version
            svc.get_user_by_id(1).collect()
        uid = svc.create_user("fresh", athlete_id=4242)
        collected = []
        assert spark_jobs(lambda: collected.extend(svc.get_user_by_id(uid).collect())) == 0
        assert [tuple(r) for r in collected] == [(uid, "fresh", 4242)]

    def test_read_update_deactivate(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("svc", expiry_days=30, user_id=3)
        assert svc.read_api_key(key).count() == 1
        assert svc.update_api_key(key, is_active=False)
        assert not svc.validate_api_key(key)
        assert svc.update_api_key(key, is_active=True)
        assert svc.validate_api_key(key)

    def test_delete_and_reassociate(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("svc", expiry_days=30, user_id=3)
        assert svc.associate_api_key_with_user(key, 9)
        assert svc.keys_for_user(9).count() == 1
        assert svc.delete_api_key(key)
        assert not svc.validate_api_key(key)
        assert not svc.delete_api_key(key)


class TestAuthMiddleware:
    """Middleware-chain parity: auth.go:79 AuthMiddleware, :152
    JWTMiddleware, :39 GenerateAPIKey — validate-then-execute with the
    reference's rejection paths, plus minted-key round-trip."""

    def test_minted_key_round_trip(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("minted", expiry_days=1, user_id=7)
        # 32 random bytes, URL-safe base64 (auth.go:66-75)
        import base64 as b64

        assert len(b64.urlsafe_b64decode(key.encode())) == 32
        assert svc.validate_api_key(key)
        # two mints never collide
        assert key != svc.create_api_key("minted", expiry_days=1)
        # expires like any other key, and deletes
        assert not svc.validate_api_key(
            key, now=datetime.utcnow() + timedelta(days=2)
        )
        assert svc.delete_api_key(key)
        assert not svc.validate_api_key(key)

    def test_jwt_secret_comes_from_config(self, spark, sf_dir, monkeypatch):
        # the signing secret is auth.jwt_secret (SPARK_GRAFT_AUTH_JWT_SECRET),
        # not a constant published in the source
        monkeypatch.setenv("SPARK_GRAFT_AUTH_JWT_SECRET", "deploy-secret")
        svc = PipelineService(spark, sf_dir)
        issuer = PipelineService(spark, sf_dir, jwt_secret="deploy-secret")
        token = issuer.generate_jwt(42)
        assert svc.authorized_call(f"Bearer {token}", lambda uid: uid) == 42
        old = PipelineService(spark, sf_dir, jwt_secret="spark-graft-hs256-secret")
        with pytest.raises(PermissionError, match="Invalid token"):
            svc.authorized_call(f"Bearer {old.generate_jwt(42)}", lambda uid: uid)

    def test_unconfigured_jwt_secret_is_random_per_instance(
        self, spark, sf_dir, monkeypatch
    ):
        monkeypatch.delenv("SPARK_GRAFT_AUTH_JWT_SECRET", raising=False)
        svc = PipelineService(spark, sf_dir)
        other = PipelineService(spark, sf_dir)
        assert svc.jwt_secret != other.jwt_secret
        token = svc.generate_jwt(42)
        assert svc.authorized_call(f"Bearer {token}", lambda uid: uid) == 42
        with pytest.raises(PermissionError, match="Invalid token"):
            other.authorized_call(f"Bearer {token}", lambda uid: uid)

    def test_non_ascii_credentials_rejected(self, spark, sf_dir):
        # hmac.compare_digest refuses non-ASCII str: such a credential
        # must still be a 401, never a TypeError
        svc = PipelineService(spark, sf_dir)
        svc.create_api_key("mw", expiry_days=30, user_id=7)
        ran = []
        with pytest.raises(PermissionError, match="Invalid API key"):
            svc.authorized_call("clé", lambda uid: ran.append(uid))
        payload = svc.generate_jwt(42).split(".", 1)[0]
        with pytest.raises(PermissionError, match="Invalid token"):
            svc.authorized_call(
                f"Bearer {payload}.sïgnature", lambda uid: ran.append(uid)
            )
        assert ran == [], "fn must never run on a rejected credential"

    def test_api_key_path_valid_invokes_fn(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("mw", expiry_days=30, user_id=7)
        assert svc.authorized_call(key, lambda uid: ("ran", uid)) == ("ran", None)

    def test_missing_and_invalid_key_rejected(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        ran = []
        with pytest.raises(PermissionError, match="API key required"):
            svc.authorized_call("", lambda uid: ran.append(1))
        with pytest.raises(PermissionError, match="Invalid API key"):
            svc.authorized_call("nope", lambda uid: ran.append(1))
        assert ran == [], "fn must never run on a rejected credential"

    def test_expired_and_inactive_key_rejected(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        key = svc.create_api_key("mw", expiry_days=1, user_id=7)
        with pytest.raises(PermissionError, match="Invalid API key"):
            svc.authorized_call(
                key, lambda uid: uid, now=datetime.utcnow() + timedelta(days=2)
            )
        svc.update_api_key(key, is_active=False)
        with pytest.raises(PermissionError, match="Invalid API key"):
            svc.authorized_call(key, lambda uid: uid)

    def test_jwt_path_passes_user_id_from_claims(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        token = svc.generate_jwt(42)
        assert svc.authorized_call(f"Bearer {token}", lambda uid: uid) == 42
        # the scheme token is case-insensitive (RFC 7235)
        assert svc.authorized_call(f"bearer {token}", lambda uid: uid) == 42

    def test_bearer_prefixed_api_key_routes_to_key_path(self, spark, sf_dir):
        # a credential merely STARTING with "Bearer" (no space) is an
        # API key, not a malformed JWT header
        svc = PipelineService(spark, sf_dir)
        key = "Bearer-shaped-key-value"
        svc.create_api_key("mw", expiry_days=30, user_id=7, key=key)
        assert svc.authorized_call(key, lambda uid: ("ran", uid)) == ("ran", None)

    def test_jwt_rejections(self, spark, sf_dir):
        svc = PipelineService(spark, sf_dir)
        token = svc.generate_jwt(42)
        with pytest.raises(PermissionError, match="format"):
            svc.authorized_call(f"Bearer {token} extra", lambda uid: uid)
        with pytest.raises(PermissionError, match="Invalid token"):
            svc.authorized_call("Bearer not.a.token", lambda uid: uid)
        # forged: signed under a different secret
        other = PipelineService(spark, sf_dir, jwt_secret="other")
        forged = other.generate_jwt(42)
        with pytest.raises(PermissionError, match="Invalid token"):
            svc.authorized_call(f"Bearer {forged}", lambda uid: uid)
        # expired: token_duration minutes in the past
        with pytest.raises(PermissionError, match="expired"):
            svc.authorized_call(
                f"Bearer {token}",
                lambda uid: uid,
                now=datetime.utcnow() + timedelta(minutes=61),
            )


class TestPIIRedaction:
    """Planted-fixture contract for redact_pii/pii_counts: the corpus
    has no PII, so the behavior is pinned here instead of an oracle."""

    def _df(self, spark):
        rows = [
            (1, "contact alice.smith+spam@example.co.uk for details"),
            (2, "server at 192.168.1.254 rebooted"),
            (3, "call +1 (415) 555-0199 or 020-7946-0958 today"),
            (4, "mixed: bob@corp.io from 10.0.0.1 dialed 4155550199"),
            (5, "clean text with no personal data at all"),
            (6, ""),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_redaction_replaces_all_classes(self, spark):
        from strava_data_pipeline_spark.functions.text import redact_pii

        out = {
            r["doc_id"]: r["red"]
            for r in self._df(spark).select(
                "doc_id", redact_pii(F.col("text")).alias("red")
            ).collect()
        }
        assert out[1] == "contact [EMAIL] for details"
        assert out[2] == "server at [IP] rebooted"
        assert out[3] == "call [PHONE] or [PHONE] today"
        assert out[4] == "mixed: [EMAIL] from [IP] dialed [PHONE]"
        assert out[5] == "clean text with no personal data at all"
        assert out[6] == ""

    def test_counts_match_redactions(self, spark):
        from strava_data_pipeline_spark.functions.text import pii_counts

        out = {
            r["doc_id"]: r["c"].asDict()
            for r in self._df(spark).select(
                "doc_id", pii_counts(F.col("text")).alias("c")
            ).collect()
        }
        assert out[1] == {"email": 1, "ipv4": 0, "phone": 0}
        assert out[2] == {"email": 0, "ipv4": 1, "phone": 0}
        assert out[3] == {"email": 0, "ipv4": 0, "phone": 2}
        assert out[4] == {"email": 1, "ipv4": 1, "phone": 1}
        assert out[5] == {"email": 0, "ipv4": 0, "phone": 0}

    def test_email_digits_not_double_claimed(self, spark):
        # user123@x.com must be ONE email, not an email plus a phone hit
        from strava_data_pipeline_spark.functions.text import (
            pii_counts,
            redact_pii,
        )

        df = spark.createDataFrame([(1, "mail user123456789@x.com now")], ["i", "text"])
        row = df.select(
            redact_pii(F.col("text")).alias("red"),
            pii_counts(F.col("text")).alias("c"),
        ).collect()[0]
        assert row["red"] == "mail [EMAIL] now"
        assert row["c"].asDict() == {"email": 1, "ipv4": 0, "phone": 0}


class TestNormalizeText:
    """Planted-fixture contract for normalize_text: the corpus is
    already clean, so the cleaning passes are proven on constructed
    dirty strings (control chars, zero-width chars, whitespace runs)
    and idempotence/no-op is proven on the real corpus."""

    def test_planted_dirty_strings(self, spark):
        from strava_data_pipeline_spark.functions.text import normalize_text

        rows = [
            (1, "a\x00b\x07c"),                      # control chars dropped
            (2, "a​b﻿c"),                  # zero-width dropped
            (3, "  a\t\tb \n c  "),                  # runs collapsed, trimmed
            (4, "already clean"),
            (5, "x\x1f‍  y"),                   # strip THEN collapse
        ]
        out = dict(
            spark.createDataFrame(rows, ["i", "t"])
            .select("i", normalize_text(F.col("t")).alias("n"))
            .collect()
        )
        assert out == {1: "abc", 2: "abc", 3: "a b c", 4: "already clean", 5: "x y"}

    def test_noop_and_idempotent_on_corpus(self, spark, sf_dir):
        from strava_data_pipeline_spark.functions.text import normalize_text
        from strava_data_pipeline_spark.sources.catalog import load_table

        docs = load_table(spark, str(sf_dir), "documents")
        n = docs.select(
            F.col("text"), normalize_text(F.col("text")).alias("n1")
        ).select("text", "n1", normalize_text(F.col("n1")).alias("n2"))
        bad = n.where(
            (F.col("n1") != F.col("text")) | (F.col("n2") != F.col("n1"))
        ).count()
        assert bad == 0


class TestBmpRle8Codec:
    """Pure-python RLE8 BMP codec (operators/multimodal.py, r8): the
    compressed-raster de-stub. Round-trip, spec branches the planted
    encoder never emits (absolute mode), and loud rejection of the
    unsupported variants."""

    def test_round_trip_matches_palette_arithmetic(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            plant_bmp,
        )

        for x in (0, 7, 99, 123456, 2**31 - 1):
            w, h, base = 4 + x % 13, 4 + (x // 7) % 9, x % 251
            d = decode_image(plant_bmp(x))
            assert (d["format"], d["width"], d["height"]) == ("bmp", w, h)
            idx = [
                (base + 7 * r + c // 4) % 256
                for r in range(h)
                for c in range(w)
            ]
            exp = b"".join(
                bytes(((i * 3) % 256, (i * 5 + 17) % 256, (i * 7 + 31) % 256))
                for i in idx
            )
            assert d["pixels"] == exp

    def _payload(self, data, w, h):
        import struct

        from strava_data_pipeline_spark.operators.multimodal import (
            _bmp_palette_entry,
        )

        pal = b"".join(_bmp_palette_entry(i) for i in range(256))
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(data), 0, 0, 256, 0
        )
        off = 14 + 40 + 1024
        return (
            b"BM"
            + struct.pack("<IHHI", off + len(data), 0, 0, off)
            + info
            + pal
            + data
        )

    def test_absolute_mode_and_word_padding(self):
        # 1 row x 5 px: absolute run of 3 (odd → 1 pad byte), then an
        # encoded run of 2 — the branch plant_bmp's encoder never emits
        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_bmp_rle8,
        )

        data = (
            b"\x00\x03\x01\x02\x03\x00"  # absolute: idx 1,2,3 + pad
            + b"\x02\x04"                # encoded: 2 x idx 4
            + b"\x00\x00" + b"\x00\x01"  # EOL, EOB
        )
        d = _decode_bmp_rle8(self._payload(data, 5, 1))
        exp = b"".join(
            bytes(((i * 3) % 256, (i * 5 + 17) % 256, (i * 7 + 31) % 256))
            for i in (1, 2, 3, 4, 4)
        )
        assert d["pixels"] == exp

    def test_bottom_up_row_order(self):
        # 2 rows: file order is BOTTOM-up, so the first encoded row is
        # the image's LAST — a decoder that forgets the flip emits the
        # rows swapped
        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_bmp_rle8,
        )

        data = (
            b"\x02\x09" + b"\x00\x00"  # file row 0 = image row 1: 9,9
            + b"\x02\x05" + b"\x00\x00"  # file row 1 = image row 0: 5,5
            + b"\x00\x01"
        )
        d = _decode_bmp_rle8(self._payload(data, 2, 2))
        rgb = lambda i: bytes(  # noqa: E731
            ((i * 3) % 256, (i * 5 + 17) % 256, (i * 7 + 31) % 256)
        )
        assert d["pixels"] == rgb(5) * 2 + rgb(9) * 2

    def test_rejections(self):
        import struct

        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            _bmp_palette_entry,
            _decode_bmp_rle8,
            decode_image,
        )

        # delta escape → loud ValueError, never a silent guess
        bad = b"\x00\x02\x01\x01" + b"\x00\x00" + b"\x00\x01"
        with _pytest.raises(ValueError, match="delta"):
            _decode_bmp_rle8(self._payload(bad, 2, 1))
        # wrong row shape (run longer than width) → ValueError
        bad = b"\x03\x01" + b"\x00\x00" + b"\x00\x01"
        with _pytest.raises(ValueError, match="raster"):
            _decode_bmp_rle8(self._payload(bad, 2, 1))
        # uncompressed 24-bit BMP → NotImplementedError (honest stub)
        pal = b"".join(_bmp_palette_entry(i) for i in range(256))
        info = struct.pack(
            "<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 0, 0, 0, 0
        )
        off = 14 + 40
        p24 = (
            b"BM" + struct.pack("<IHHI", off + 4, 0, 0, off) + info
            + b"\x01\x02\x03\x00"
        )
        with _pytest.raises(NotImplementedError, match="RLE8"):
            decode_image(p24)


class TestWavCodec:
    """Pure-python RIFF/WAVE PCM codec (operators/multimodal.py, r9):
    the audio modality. Round-trip against the planted quadratic
    generator, RIFF chunk-walk robustness (unknown chunks, odd-size
    padding), and typed rejection of compressed/multi-channel
    profiles and malformed containers."""

    def test_round_trip_matches_generator(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_audio,
            plant_wav,
        )

        for x in (0, 7, 99, 123456, 2**31 - 1):
            rate, n, base = 8000 + (x % 5) * 2000, 256 + x % 512, x % 251
            d = decode_audio(plant_wav(x))
            assert (d["format"], d["sample_rate"], d["n_samples"]) == (
                "wav",
                rate,
                n,
            )
            exp = [
                (base * 31 + 7 * i * i + 13 * i) % 4001 - 2000
                for i in range(n)
            ]
            assert d["samples"] == exp

    def test_unknown_chunks_skipped_with_padding(self):
        # a LIST chunk of ODD size before data: the walk must skip it
        # AND its pad byte, or every later chunk misparses
        import struct

        from strava_data_pipeline_spark.operators.multimodal import (
            decode_audio,
            plant_wav,
        )

        good = plant_wav(5)
        lst = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
        rebuilt = good[:12] + lst + good[12:]
        rebuilt = (
            b"RIFF" + struct.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
        )
        assert decode_audio(rebuilt)["samples"] == decode_audio(good)["samples"]

    def test_rejections(self):
        import struct

        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            decode_audio,
            encode_wav,
            plant_wav,
        )

        good = plant_wav(7)
        with _pytest.raises(ValueError, match="RIFF"):
            decode_audio(b"RIFX" + good[4:])
        with _pytest.raises(ValueError, match="truncated"):
            decode_audio(good[:-10])
        # compressed format code -> typed profile NotImplementedError
        fmt_at = good.find(b"fmt ")
        bad = bytearray(good)
        bad[fmt_at + 8] = 2  # audio_format = ADPCM
        with _pytest.raises(NotImplementedError, match="compressed"):
            decode_audio(bytes(bad))
        # stereo -> typed profile NotImplementedError
        bad = bytearray(good)
        bad[fmt_at + 10] = 2  # channels
        with _pytest.raises(NotImplementedError, match="mono"):
            decode_audio(bytes(bad))
        # a fmt-less container fails loudly
        nofmt = good[:12] + good[12 + 8 + 16 :]
        nofmt = b"RIFF" + struct.pack("<I", len(nofmt) - 8) + nofmt[8:]
        with _pytest.raises(ValueError, match="fmt"):
            decode_audio(nofmt)
        _ = encode_wav  # writer exercised via plant_wav above


class TestFrameSampling:
    """Real frame sampling over animated GIFs (operators/multimodal.py,
    r9 — the last multimodal stub de-stubbed): multi-frame decode,
    stride semantics, single-frame fallthrough, and the P6 re-encode
    round-trip."""

    def test_animated_frames_decode_distinct(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            _gif_palette_entry,
            decode_frames,
            plant_gif_animated,
        )

        for x in (0, 7, 99, 123456, 2**31 - 1):
            w, h = 8 + x % 15, 8 + (x // 7) % 9
            nf, base = 2 + x % 4, x % 251
            fr = decode_frames(plant_gif_animated(x))
            assert len(fr) == nf
            for f, d in enumerate(fr):
                assert (d["width"], d["height"]) == (w, h)
                exp = b"".join(
                    _gif_palette_entry((base + 11 * r + c // 3 + 29 * f) % 256)
                    for r in range(h)
                    for c in range(w)
                )
                assert d["pixels"] == exp

    def test_stride_semantics(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_frames,
            decode_image,
            plant_gif_animated,
            sample_frames,
        )

        p = plant_gif_animated(3)  # 5 frames (2 + 3%4)
        fr = decode_frames(p)
        assert len(fr) == 5
        s2 = sample_frames(p, 2)  # frames 0, 2, 4
        assert len(s2) == 3
        for got, want in zip(s2, (fr[0], fr[2], fr[4])):
            assert decode_image(got)["pixels"] == want["pixels"]
        s1 = sample_frames(p, 1)
        assert len(s1) == 5
        s9 = sample_frames(p, 9)  # stride past the end keeps frame 0
        assert len(s9) == 1

    def test_single_frame_formats_one_frame(self):
        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            plant_jpeg,
            plant_png,
            sample_frames,
        )

        for plant in (plant_png, plant_jpeg):
            p = plant(42)
            s = sample_frames(p, 3)
            assert len(s) == 1
            assert (
                decode_image(s[0])["pixels"] == decode_image(p)["pixels"]
            )
        with _pytest.raises(ValueError, match="stride"):
            sample_frames(plant_png(1), 0)


class TestJpegCodec:
    """Pure-python baseline grayscale JPEG (operators/multimodal.py,
    r9): the final codec de-stub. Flat plants round-trip EXACTLY (the
    DC-only/Q[DC]=8 exactness contract the registry oracle relies on);
    non-flat content round-trips within quantization error through the
    REAL DCT path; restart markers, AC coefficients, and malformed /
    unsupported-profile streams are all pinned."""

    def test_flat_plants_exact(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            plant_jpeg,
        )

        for x in (0, 7, 99, 123456, 2**31 - 1):
            w, h, base = 8 * (1 + x % 4), 8 * (1 + (x // 7) % 3), x % 251
            d = decode_image(plant_jpeg(x))
            assert (d["format"], d["width"], d["height"]) == ("jpeg", w, h)
            exp = bytearray()
            for r in range(h):
                for c in range(w):
                    g = (base + 11 * (r // 8) + 3 * (c // 8)) % 201 + 20
                    exp += bytes((g, g, g))
            assert d["pixels"] == bytes(exp)

    def test_nonflat_roundtrip_within_quant_error(self):
        # random noise is the worst case for a coarse quantizer; the
        # REAL forward+inverse DCT must still land within the error a
        # step-16 table allows, and a smooth gradient must be near-exact
        import numpy as np

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
        )

        rng = np.random.RandomState(42)
        img = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
        d = _decode_jpeg(encode_jpeg_gray(24, 16, img.tobytes()))
        got = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(16, 24, 3)
        assert (got[:, :, 0] == got[:, :, 1]).all()  # gray replication
        err = np.abs(got[:, :, 0].astype(int) - img.astype(int))
        assert err.max() <= 60 and err.mean() <= 8
        grad = np.tile(np.arange(0, 240, 10, dtype=np.uint8), (8, 1))
        d = _decode_jpeg(encode_jpeg_gray(24, 8, grad.tobytes()))
        got = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(8, 24, 3)
        assert np.abs(got[:, :, 0].astype(int) - grad.astype(int)).max() <= 3

    def test_ac_coefficients_decode(self):
        # a block with genuine AC structure (vertical stripes) forces
        # run-length AC symbols through the Huffman path — EOB-only
        # streams would not notice a broken AC decoder
        import numpy as np

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
        )

        stripes = np.zeros((8, 8), dtype=np.uint8)
        stripes[:, ::2] = 230
        stripes[:, 1::2] = 30
        d = _decode_jpeg(encode_jpeg_gray(8, 8, stripes.tobytes()))
        got = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(8, 8, 3)[
            :, :, 0
        ]
        # stripe CONTRAST must survive (exact values shift by quant)
        assert got[:, ::2].astype(int).mean() - got[:, 1::2].astype(
            int
        ).mean() > 120

    def test_restart_markers(self):
        # splice a DRI segment + RST markers into a planted stream the
        # hard way: re-encode block stream with restart_interval=1 by
        # hand is overkill — instead verify the decoder accepts a DRI
        # of 0 (no restarts) and rejects a missing RST when DRI says so
        import struct

        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_jpeg,
            plant_jpeg,
        )

        p = plant_jpeg(12345)  # 16x24 -> 6 blocks
        # inject DRI=1 right before SOS; entropy stream has no RSTs ->
        # the decoder must fail LOUDLY at the first interval boundary
        sos_at = p.find(b"\xff\xda")
        dri = struct.pack(">HHH", 0xFFDD, 4, 1)
        bad = p[:sos_at] + dri + p[sos_at:]
        with _pytest.raises(ValueError, match="restart"):
            _decode_jpeg(bad)
        dri0 = struct.pack(">HHH", 0xFFDD, 4, 0)
        ok = p[:sos_at] + dri0 + p[sos_at:]
        assert _decode_jpeg(ok)["pixels"] == _decode_jpeg(p)["pixels"]

    def test_restart_markers_positive_roundtrip(self):
        # a REAL conformant DRI>=1 stream (encoder byte-aligns with
        # 1-bit padding, emits cycling RST0..RST7, resets the DC
        # predictor): at_rst must DISCARD the pending padding bits
        # before peeking for the marker — the r9 reader only consumed
        # an RST when its bit buffer happened to be empty, so every
        # non-byte-aligned MCU boundary failed (ADVICE r9, medium)
        import numpy as np

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
        )

        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, size=(24, 32), dtype=np.uint8)  # 12 MCUs
        base = _decode_jpeg(encode_jpeg_gray(32, 24, img.tobytes()))
        for dri in (1, 2, 5):
            # dri=1 -> 11 restarts, exercising the RSTn modulo-8 wrap
            d = _decode_jpeg(
                encode_jpeg_gray(32, 24, img.tobytes(), restart_interval=dri)
            )
            assert (d["width"], d["height"]) == (32, 24)
            # the entropy decode is exact given the same quantized
            # coefficients, so DRI must not change a single pixel
            assert d["pixels"] == base["pixels"], f"DRI={dri} diverged"

    def test_marker_fill_bytes_skipped(self):
        # optional 0xFF fill bytes before a marker are legal (T.81
        # B.1.1.2); the walk must treat the byte after the LAST 0xFF
        # as the marker code, not parse a fill byte as a length
        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_jpeg,
            plant_jpeg,
        )

        p = plant_jpeg(7)
        sos_at = p.find(b"\xff\xda")
        filled = p[:sos_at] + b"\xff\xff\xff" + p[sos_at:]
        assert _decode_jpeg(filled)["pixels"] == _decode_jpeg(p)["pixels"]

    def test_rejections(self):
        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
            plant_jpeg,
        )

        good = plant_jpeg(7)
        with _pytest.raises(ValueError, match="not a JPEG"):
            _decode_jpeg(b"NOPE" + good[4:])
        # progressive (SOF2) -> honest profile NotImplementedError
        prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
        with _pytest.raises(NotImplementedError, match="SOF2"):
            _decode_jpeg(prog)
        # 3-component (color) SOF0 -> honest profile NotImplementedError
        sof_at = good.find(b"\xff\xc0")
        color = bytearray(good)
        color[sof_at + 9] = 3  # ncomp byte inside SOF0
        with _pytest.raises(NotImplementedError, match="color"):
            _decode_jpeg(bytes(color))
        # truncated entropy stream fails loudly
        with _pytest.raises(ValueError):
            _decode_jpeg(good[: len(good) - 6])
        # encoder contract: dims must be block-aligned, raster sized
        with _pytest.raises(ValueError, match="multiples of 8"):
            encode_jpeg_gray(12, 8, bytes(96))
        with _pytest.raises(ValueError, match="gray bytes"):
            encode_jpeg_gray(8, 8, bytes(63))


class TestPngCodec:
    """Pure-python PNG codec (operators/multimodal.py, r9): the
    DEFLATE-era de-stub. Round-trip against the planted channel
    arithmetic (the encoder cycles all five filter types row % 5, so
    every image exercises every filter reversal), filter-by-filter
    equality on a hand-built image, ancillary-chunk skipping, and loud
    rejection of malformed streams (CRC, truncation, Adam7, non-RGB)."""

    def _rgb(self, i):
        return bytes(
            ((i * 19 + 3) % 256, (i * 23 + 9) % 256, (i * 29 + 13) % 256)
        )

    def test_round_trip_matches_channel_arithmetic(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            plant_png,
        )

        for x in (0, 7, 99, 123456, 2**31 - 1):
            w, h, base = 8 + x % 25, 8 + (x // 7) % 17, x % 251
            d = decode_image(plant_png(x))
            assert (d["format"], d["width"], d["height"]) == ("png", w, h)
            exp = b"".join(
                self._rgb((base + 11 * r + c // 3) % 256)
                for r in range(h)
                for c in range(w)
            )
            assert d["pixels"] == exp

    def test_palette_depths_round_trip(self):
        # r10 profile widening: indexed color at every legal depth —
        # the MSB-first unpack, per-row pad-bit discard, and PLTE map
        # all sit between encode and this equality
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_png_pal,
        )

        w, h = 13, 10  # odd width forces pad bits at depths 1/2/4
        for depth in (1, 2, 4, 8):
            n = 1 << depth
            pal = [self._rgb(j * 7 + 1) for j in range(n)]
            idx = bytes((p * 3 + p // w) % n for p in range(w * h))
            d = decode_image(encode_png_pal(w, h, idx, pal, depth))
            assert (d["width"], d["height"], d["maxval"]) == (w, h, 255)
            assert d["pixels"] == b"".join(pal[k] for k in idx), depth

    def test_16bit_round_trip(self):
        # big-endian 2-byte samples, 6-byte filter unit; high and low
        # bytes carry independent data so a one-byte reader cannot pass
        import numpy as np

        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_png16,
        )

        rng = np.random.RandomState(3)
        w, h = 9, 10
        vals = rng.randint(0, 65536, size=(h * w * 3,), dtype=np.int64)
        px = b"".join(int(v).to_bytes(2, "big") for v in vals)
        d = decode_image(encode_png16(w, h, px))
        assert (d["width"], d["height"], d["maxval"]) == (w, h, 65535)
        got = np.frombuffer(d["pixels"], dtype=">u2").astype(np.int64)
        assert (got == vals).all()

    def test_palette_and_deep_rejections(self):
        import struct
        import zlib

        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_png,
            _png_chunk,
            encode_png_pal,
            plant_png_deep,
            resize_image,
        )

        pal = [self._rgb(j) for j in range(4)]
        ok = encode_png_pal(4, 4, bytes(p % 4 for p in range(16)), pal, 2)
        # indexed stream stripped of its PLTE must fail loudly
        plte_at = ok.find(b"PLTE") - 4
        plte_len = 12 + 3 * 4
        no_plte = ok[:plte_at] + ok[plte_at + plte_len :]
        with _pytest.raises(ValueError, match="missing PLTE"):
            _decode_png(no_plte)
        # an index past the palette is ValueError, not IndexError: a
        # 2-entry PLTE with depth-2 indexes reaching 3
        short = (
            ok[:plte_at]
            + _png_chunk(b"PLTE", pal[0] + pal[1])
            + ok[plte_at + plte_len :]
        )
        with _pytest.raises(ValueError, match="beyond palette"):
            _decode_png(short)
        # grayscale color type stays the honest typed residual
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
        gray = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(4 * (1 + 4))))
            + _png_chunk(b"IEND", b"")
        )
        with _pytest.raises(NotImplementedError, match="color type"):
            _decode_png(gray)
        # deep rasters refuse the 1-byte-per-sample P6 resize
        deep = plant_png_deep(4)  # v == 4 -> 16-bit variant
        with _pytest.raises(NotImplementedError, match="16-bit"):
            resize_image(deep, 4, 4)
        # palette rasters resize fine through the same path
        assert resize_image(ok, 2, 2)[:2] == b"P6"
        # encoder-side contract checks
        with _pytest.raises(ValueError, match="palette"):
            encode_png_pal(4, 4, bytes(16), pal, 1)  # 4 entries > 2**1
        # r10 ADVICE: zero-area dims are a typed rejection up front,
        # not an opaque max()-of-empty crash
        with _pytest.raises(ValueError, match="positive"):
            encode_png_pal(0, 4, b"", pal, 2)
        with _pytest.raises(ValueError, match="positive"):
            encode_png_pal(4, 0, b"", pal, 2)

    def test_every_filter_type_reverses(self):
        # encode/decode a noisy raster tall enough that rows hit all
        # five filters (h=10 -> types 0,1,2,3,4 twice); a wrong
        # predictor in ANY filter propagates into later Up/Avg/Paeth
        # rows and cannot cancel out
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_png,
        )

        w, h = 13, 10
        px = bytes((i * i * 37 + i * 11 + 5) % 256 for i in range(3 * w * h))
        d = decode_image(encode_png(w, h, px))
        assert d["pixels"] == px

    def test_ancillary_chunks_skipped_and_multi_idat(self):
        # split the IDAT in two and interpose a tEXt chunk: the chunk
        # walk must reassemble IDATs and skip ancillary chunks
        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_png,
            _png_chunk,
            encode_png,
        )

        import struct

        w, h = 4, 5
        px = bytes((7 * i + 3) % 256 for i in range(3 * w * h))
        whole = encode_png(w, h, px)
        # deconstruct: sig + IHDR chunk + IDAT chunk + IEND chunk
        sig, rest = whole[:8], whole[8:]
        (l1,) = struct.unpack_from(">I", rest, 0)
        ihdr, rest = rest[: 12 + l1], rest[12 + l1 :]
        (l2,) = struct.unpack_from(">I", rest, 0)
        idat = rest[8 : 8 + l2]
        rebuilt = (
            sig
            + ihdr
            + _png_chunk(b"tEXt", b"Comment\x00planted")
            + _png_chunk(b"IDAT", idat[: len(idat) // 2])
            + _png_chunk(b"IDAT", idat[len(idat) // 2 :])
            + _png_chunk(b"IEND", b"")
        )
        assert _decode_png(rebuilt)["pixels"] == px

    def test_rejections(self):
        import struct

        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_png,
            _png_chunk,
            encode_png,
            plant_png,
        )

        good = plant_png(42)
        with _pytest.raises(ValueError, match="not a PNG"):
            _decode_png(b"\x89PNX" + good[4:])
        # corrupt an IDAT byte -> CRC mismatch, never silent garbage
        bad = bytearray(good)
        bad[45] ^= 0xFF
        with _pytest.raises(ValueError, match="CRC"):
            _decode_png(bytes(bad))
        # truncated mid-chunk
        with _pytest.raises(ValueError, match="truncated"):
            _decode_png(good[:-8])
        # Adam7 interlace -> honest NotImplementedError
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        p = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        with _pytest.raises(NotImplementedError, match="Adam7"):
            _decode_png(p)
        # grayscale (color type 0) -> honest NotImplementedError
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        p = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        with _pytest.raises(NotImplementedError, match="color type"):
            _decode_png(p)
        # raster length mismatch (IHDR lies about dims)
        w, h = 3, 3
        px = bytes(3 * w * h)
        whole = encode_png(w, h, px)
        (l1,) = struct.unpack_from(">I", whole, 8)
        lying = struct.pack(">IIBBBBB", w + 1, h, 8, 2, 0, 0, 0)
        rebuilt = (
            whole[:8] + _png_chunk(b"IHDR", lying) + whole[8 + 12 + l1 :]
        )
        with _pytest.raises(ValueError, match="raster"):
            _decode_png(rebuilt)
        # encoder input contract
        with _pytest.raises(ValueError, match="pixel bytes"):
            encode_png(2, 2, b"\x00" * 5)


class TestGifLzwCodec:
    """Pure-python GIF/LZW codec (operators/multimodal.py, r8): the
    entropy-coded de-stub. Round-trip against the palette arithmetic,
    the variable-width boundaries the planted encoder does cross, the
    spec branches it never emits (interlace, extensions, local color
    table, KwKwK), and loud rejection of malformed streams."""

    def _rgb(self, i):
        return bytes(
            ((i * 11 + 5) % 256, (i * 13 + 7) % 256, (i * 17 + 11) % 256)
        )

    def test_round_trip_matches_palette_arithmetic(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            plant_gif,
        )

        for x in (0, 7, 99, 123456, 2**31 - 1):
            w, h, base = 8 + x % 25, 8 + (x // 7) % 17, x % 251
            d = decode_image(plant_gif(x))
            assert (d["format"], d["width"], d["height"]) == ("gif", w, h)
            exp = b"".join(
                self._rgb((base + 11 * r + c // 3) % 256)
                for r in range(h)
                for c in range(w)
            )
            assert d["pixels"] == exp

    def test_width_growth_and_table_reset(self):
        # a varied 150x150 raster pushes the LZW table past every width
        # boundary (9→10→11→12 bits) AND through the 4096-entry reset —
        # a one-bit desync at any boundary corrupts every later pixel
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_gif_lzw,
        )

        idx = bytes((i * i * 31 + i * 7) % 256 for i in range(150 * 150))
        d = decode_image(encode_gif_lzw(150, 150, idx))
        assert d["pixels"] == b"".join(self._rgb(k) for k in idx)

    def test_delta_frames_composite(self):
        # r11 (VERDICT r10 task 7): delta frames COMPOSITE now — the
        # r9-era typed rejection is gone. Patch a full-frame animation
        # into sub-rectangle form and check the canvas math directly.
        import struct

        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_gif_frames,
            _gif_palette_entry,
            encode_gif_animated,
            encode_gif_animated_composite,
        )

        pal = [_gif_palette_entry(i) for i in range(256)]
        base = bytes(i % 256 for i in range(64))
        patch = bytes((i * 3) % 256 for i in range(6))
        p = encode_gif_animated_composite(
            8,
            8,
            [
                dict(indexes=base),
                dict(left=2, top=5, w=3, h=2, indexes=patch,
                     transparent=3),
            ],
            bg=9,
        )
        frames = _decode_gif_frames(p)
        assert len(frames) == 2
        # frame 0 = the base raster, full screen
        assert frames[0]["pixels"] == b"".join(pal[k] for k in base)
        # frame 1 = base with the patch composited at (2,5), index 3
        # transparent (shows base through)
        canvas = [pal[k] for k in base]
        for r in range(2):
            for c in range(3):
                k = patch[r * 3 + c]
                if k != 3:
                    canvas[(5 + r) * 8 + 2 + c] = pal[k]
        assert frames[1]["pixels"] == b"".join(canvas)
        assert (frames[1]["width"], frames[1]["height"]) == (8, 8)
        # disposal methods: 2 clears the rect to background before the
        # next frame; 3 restores the pre-draw canvas
        for disp, want_under in ((2, pal[9]), (3, None)):
            p2 = encode_gif_animated_composite(
                8,
                8,
                [
                    dict(indexes=base),
                    dict(left=0, top=0, w=2, h=2, indexes=bytes(4),
                         disposal=disp),
                    dict(left=6, top=6, w=2, h=2, indexes=bytes(4)),
                ],
                bg=9,
            )
            fr = _decode_gif_frames(p2)
            probe = fr[2]["pixels"][:3]  # pixel (0,0) after disposal
            if disp == 2:
                assert probe == pal[9]  # background restored
            else:
                assert probe == pal[base[0]]  # previous restored
        # a rect past the logical screen is still a typed failure
        f1 = bytes(i % 256 for i in range(64))
        full = encode_gif_animated(8, 8, [f1, f1])
        desc = b"\x2c" + struct.pack("<HHHH", 0, 0, 8, 8)
        second = full.find(desc, full.find(desc) + 1)
        off = (
            full[: second + 1]
            + struct.pack("<H", 7)
            + full[second + 3 :]
        )
        with _pytest.raises(ValueError, match="exceeds"):
            _decode_gif_frames(off)

    def test_kwkwk_uniform_run(self):
        # a uniform raster is the canonical KwKwK generator: the encoder
        # emits a phrase code one step after defining it, so the decoder
        # repeatedly sees code == next free slot (entry = prev + prev[0])
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_gif_lzw,
        )

        idx = bytes((42,)) * 400
        d = decode_image(encode_gif_lzw(20, 20, idx))
        assert d["pixels"] == self._rgb(42) * 400

    def _manual_gif(self, w, h, idx, ipacked=0, pre_image=b"", pal=None):
        import struct

        from strava_data_pipeline_spark.operators.multimodal import (
            _gif_palette_entry,
            _lzw_compress,
        )

        screen = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
        gpal = b"".join(_gif_palette_entry(i) for i in range(256))
        desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ipacked)
        lpal = b"" if pal is None else pal
        lzw = _lzw_compress(idx, 8)
        blocks = bytearray(b"\x08")
        for i in range(0, len(lzw), 255):
            blocks += bytes((len(lzw[i : i + 255]),)) + lzw[i : i + 255]
        blocks += b"\x00"
        return (
            b"GIF89a" + screen + gpal + pre_image + desc + lpal
            + bytes(blocks) + b"\x3b"
        )

    def test_interlaced_rows_reordered(self):
        # store rows in the four-pass interlace order with the flag set;
        # the decoder must reassemble the top-down raster
        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_gif_lzw,
        )

        w, h = 3, 10
        rows = [bytes((r, r, r)) for r in range(h)]
        order = [r for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for r in range(s, h, st)]
        stored = b"".join(rows[r] for r in order)
        d = _decode_gif_lzw(self._manual_gif(w, h, stored, ipacked=0x40))
        assert d["pixels"] == b"".join(
            self._rgb(r) for r in range(h) for _ in range(w)
        )

    def test_extension_blocks_skipped(self):
        # a graphic-control extension (0x21 0xF9) precedes the image
        # descriptor in most real GIFs; the decoder must skip it
        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_gif_lzw,
        )

        ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        d = _decode_gif_lzw(
            self._manual_gif(2, 1, b"\x05\x09", pre_image=ext)
        )
        assert d["pixels"] == self._rgb(5) + self._rgb(9)

    def test_local_color_table_wins(self):
        # an image with a 2-entry LOCAL table (ipacked 0x80, size bits
        # 0): indexes resolve through it, not the global table
        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_gif_lzw,
        )

        lpal = b"\x10\x20\x30" + b"\x40\x50\x60"
        d = _decode_gif_lzw(
            self._manual_gif(2, 1, b"\x01\x00", ipacked=0x80, pal=lpal)
        )
        assert d["pixels"] == b"\x40\x50\x60" + b"\x10\x20\x30"

    def test_rejections(self):
        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            _decode_gif_lzw,
            decode_image,
            encode_gif_lzw,
        )

        with _pytest.raises(ValueError, match="not a GIF"):
            _decode_gif_lzw(b"NOPE" + b"\x00" * 20)
        # raster byte count must match the descriptor dims
        with _pytest.raises(ValueError, match="raster"):
            _decode_gif_lzw(self._manual_gif(3, 2, b"\x01\x02"))
        # truncated LZW stream (EOI never arrives) fails loudly
        good = encode_gif_lzw(4, 4, bytes(range(16)))
        with _pytest.raises(ValueError):
            decode_image(good[: len(good) - 6] + b"\x00\x3b")
        # JPEG magic now routes to the REAL baseline decoder, which
        # rejects this malformed stream (zero-length segment) loudly
        with _pytest.raises(ValueError, match="segment length"):
            decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
        # an index past a small LOCAL color table (2 entries, size bits
        # 0) must be the typed ValueError, not IndexError at pal[k]
        lpal = b"\x10\x20\x30" + b"\x40\x50\x60"
        with _pytest.raises(ValueError, match="beyond color table"):
            _decode_gif_lzw(
                self._manual_gif(2, 1, b"\x01\x05", ipacked=0x80, pal=lpal)
            )


class TestImaAdpcmCodec:
    """Pure-python IMA/DVI ADPCM (operators/multimodal.py, r10): the
    compressed-audio residual shrink. The encoder advances its state
    with the decoder's own transition (reconstruction feedback), so
    encoder-internal reconstruction and decoder output must agree
    EXACTLY — the property that makes the lossy codec testable without
    tolerance fudge; tracking error on gentle signals and typed
    rejections pin the rest."""

    def test_encoder_reconstruction_equals_decoder(self):
        import random

        from strava_data_pipeline_spark.operators.multimodal import (
            _IMA_STEP,
            _ima_step_state,
            decode_audio,
            encode_wav_ima,
        )

        rng = random.Random(5)
        src = [rng.randint(-32768, 32767) for _ in range(501)]
        d = decode_audio(encode_wav_ima(11025, src))
        assert (d["format"], d["sample_rate"], d["n_samples"]) == (
            "wav-ima", 11025, 501,
        )
        pred, idx = src[0], 0
        recon = [pred]
        for s in src[1:]:
            step = _IMA_STEP[idx]
            diff = s - pred
            c = 8 if diff < 0 else 0
            dd = abs(diff)
            if dd >= step:
                c |= 4
                dd -= step
            if dd >= step >> 1:
                c |= 2
                dd -= step >> 1
            if dd >= step >> 2:
                c |= 1
            pred, idx = _ima_step_state(pred, idx, c)
            recon.append(pred)
        assert d["samples"] == recon

    def test_tracks_gentle_signal(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_audio,
            encode_wav_ima,
        )

        tri, v, d = [], 0, 100
        for _ in range(600):
            tri.append(v)
            v += d
            if abs(v) >= 5000:
                d = -d
        got = decode_audio(encode_wav_ima(8000, tri))["samples"]
        errs = [abs(a - b) for a, b in zip(got, tri)]
        assert max(errs) < 500 and sum(errs) / len(errs) < 40

    def test_plant_and_fact_trimming(self):
        from strava_data_pipeline_spark.operators.multimodal import (
            decode_audio,
            encode_wav_ima_nibbles,
            plant_wav_ima,
        )

        for x in (0, 1, 7, 88, 99, 123456, 2**31 - 1):
            d = decode_audio(plant_wav_ima(x))
            assert d["n_samples"] == 1 + 64 + 2 * (x % 97)
            assert d["sample_rate"] == 8000 + (x % 5) * 2000
            assert all(-32768 <= s <= 32767 for s in d["samples"])
        # odd code count: pad nibble written, fact chunk trims it back
        d = decode_audio(encode_wav_ima_nibbles(8000, 100, 3, [5, 9, 12]))
        assert d["n_samples"] == 4

    def test_rejections(self):
        import struct

        import pytest as _pytest

        from strava_data_pipeline_spark.operators.multimodal import (
            decode_audio,
            encode_wav_ima_nibbles,
            plant_wav_ima,
        )

        ok = plant_wav_ima(42)
        # block step index past the table is ValueError, not IndexError
        at = ok.find(b"data") + 8
        bad_idx = ok[: at + 2] + bytes((200,)) + ok[at + 3 :]
        with _pytest.raises(ValueError, match="step index"):
            decode_audio(bad_idx)
        # data not whole blocks
        (dlen,) = struct.unpack_from("<I", ok, at - 4)
        trunc = (
            ok[: at - 4]
            + struct.pack("<I", dlen - 1)
            + ok[at : at + dlen - 1]
        )
        trunc = trunc[:4] + struct.pack("<I", len(trunc) - 8) + trunc[8:]
        with _pytest.raises(ValueError, match="whole"):
            decode_audio(trunc)
        # other compressed formats stay the typed residual
        pcm_hdr = ok.find(b"fmt ") + 8
        alaw = ok[:pcm_hdr] + struct.pack("<H", 6) + ok[pcm_hdr + 2 :]
        with _pytest.raises(NotImplementedError, match="format 6"):
            decode_audio(alaw)
        # encoder-side contracts
        with _pytest.raises(ValueError, match="4-bit"):
            encode_wav_ima_nibbles(8000, 0, 0, [16])
        with _pytest.raises(ValueError, match="initial"):
            encode_wav_ima_nibbles(8000, 0, 89, [1])
