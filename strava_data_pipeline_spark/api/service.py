"""Reference REST-surface parity as a DataFrame service layer.

Every endpoint of the reference's API server
(/root/reference/internal/api/api.go) re-expressed over the engine:

| reference endpoint                | method here           |
| --------------------------------- | --------------------- |
| GET /api/v1/activities            | list_activities       |
| GET /api/v1/activities/{id}       | get_activity          |
| POST /admin/sync {days}           | sync_window           |
| GET /admin/keys                   | keys_for_user         |
| POST /admin/keys                  | create_api_key        |
| (middleware) X-API-Key validation | validate_api_key      |
| db.ReadAPIKeyByID (:94)           | read_api_key          |
| db.UpdateAPIKey (:111)            | update_api_key        |
| db.DeleteAPIKey (:135)            | delete_api_key        |
| db.AssociateAPIKeyWithUser (:161) | associate_api_key_with_user |
| db.CreateUser (user.go:34)        | create_user           |
| db.GetUserByID/Username/AthleteID | get_user_by_*         |
| db.UpdateUser (user.go:110)       | update_user           |
| db.DeleteUser (user.go:125)       | delete_user           |

Auth-token/OAuth flows are request-time concerns of a web tier, not of
the data engine; key *validation semantics* (active + unexpired —
user_api_keys.go:36) are implemented exactly.

Serving: from its second served read on, a table version that fits the
session's broadcast threshold has a driver-side Arrow copy
(catalog.note_read). The service sorts the events copy once per
version into the listing order, (ts DESC, event_id DESC) with NULLs
last as Spark sorts them, and answers every activity and user endpoint
with a ``pyarrow.compute`` filter or slice of it, returned as
``spark.createDataFrame(slice, schema)``: a ``LocalTableScan`` that is
collected with no Spark job. A first read (each sync read-back) and a
version over the threshold are answered by a Spark plan over the
table's handle, with the same schema and rows; the API keys and the
user overlay are driver-held rows, turned into frames the same way.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import secrets
from collections.abc import Callable
from datetime import datetime, timedelta
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from strava_data_pipeline_spark.config import load_config
from strava_data_pipeline_spark.functions.local_frames import arrow_rows
from strava_data_pipeline_spark.operators.pagination import page_keyset, page_offset
from strava_data_pipeline_spark.sources.catalog import load_table, max_micros, note_read

KEY_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("description", StringType()),
        StructField("created_at", TimestampType()),
        StructField("expires_at", TimestampType()),
        StructField("is_active", BooleanType()),
        StructField("user_id", LongType()),
    ]
)
USER_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("username", StringType()),
        StructField("athlete_id", LongType()),
    ]
)
# the listing order; Spark puts NULLs last in a DESC sort
_ORDER = [("ts", True), ("event_id", True)]


class PipelineService:
    """Facade over the engine; one instance per session.

    Its state is driver-side: the API keys and the user overlay
    (driver-held rows), and per table version the derived tables the
    endpoints read, the events copy in listing order and the users dim,
    rebuilt when the version or the overlay changes."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        jwt_secret: str | None = None,
        token_duration: int | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        # session-token settings (config.go Auth block: JWTSecret +
        # TokenDuration minutes), from load_config().auth unless given.
        # With no secret configured, tokens are signed with a random
        # secret of this instance, never a constant known to anyone.
        auth = load_config().auth
        self.jwt_secret = (
            jwt_secret
            if jwt_secret is not None
            else auth.jwt_secret or secrets.token_urlsafe(32)
        )
        self.token_duration = (
            token_duration if token_duration is not None else auth.token_duration
        )
        # Admin-created keys are a driver-scale dim; kept as local rows
        # and rebuilt as a local relation per query, so a long-lived
        # service never accumulates an unbounded unionByName lineage.
        # A production deployment stores keys in a table and mutates it
        # via merge_cdc (see the key_lifecycle registry query).
        self._key_rows: list[tuple] = []
        self._user_rows: list[tuple] = []
        self._deleted_user_ids: set[int] = set()
        # bumped by every user mutation; the users dim is built once per
        # (customer version, its copy, generation), see _users
        self._user_gen = 0
        self._users_built: tuple | None = None
        self._listing: tuple[pa.Table, pa.Table] | None = None

    @property
    def _keys(self) -> DataFrame:
        rows = arrow_rows(self._key_rows, KEY_SCHEMA)
        return self.spark.createDataFrame(rows, KEY_SCHEMA)

    def _events(self) -> tuple[DataFrame, pa.Table | None]:
        """A served read of events: the table's handle and, once its
        version has a driver copy (catalog.note_read), that copy in
        listing order, sorted once per version."""
        events = load_table(self.spark, self.sf_dir, "events")
        copy = note_read(events)
        if copy is None:
            return events, None
        listing = self._listing
        if listing is None or listing[0] is not copy:
            keys = [(c, "descending" if desc else "ascending") for c, desc in _ORDER]
            ordered = copy.sort_by(keys, null_placement="at_end")
            listing = self._listing = (copy, ordered)
        return events, listing[1]

    def _local(self, table: pa.Table, like: DataFrame) -> DataFrame:
        """An Arrow slice as a frame with ``like``'s schema."""
        return self.spark.createDataFrame(table, like.schema)

    # -- activities (api.go:206, api.go:239) ------------------------------
    def list_activities(self, limit: int = 20, offset: int = 0) -> DataFrame:
        events, listing = self._events()
        if listing is not None:
            return self._local(listing.slice(offset, limit), events)
        return page_offset(events, _ORDER, limit=limit, offset=offset).drop("rn")

    def list_activities_after(
        self, cursor_ts: datetime, cursor_id: int, limit: int = 20
    ) -> DataFrame:
        """Keyset variant — the deep-pagination path the reference lacks.

        The cursor is the last row's (ts, event_id) pair and mirrors the
        FULL (ts DESC, event_id DESC) order: ``ts < T`` alone would skip
        the remaining rows that share the page boundary's timestamp.
        The predicate is three-valued on both paths (Kleene OR/AND, as
        Spark evaluates it), so a NULL event_id row older than ``T``
        passes."""
        events, listing = self._events()
        if listing is not None:
            ts, ids = listing["ts"], listing["event_id"]
            bound = pa.scalar(TimestampType().toInternal(cursor_ts), ts.type)
            after = pc.or_kleene(
                pc.less(ts, bound),
                pc.and_kleene(pc.equal(ts, bound), pc.less(ids, cursor_id)),
            )
            return self._local(listing.filter(after).slice(0, limit), events)
        cursor = (F.col("ts") < F.lit(cursor_ts)) | (
            (F.col("ts") == F.lit(cursor_ts)) & (F.col("event_id") < F.lit(cursor_id))
        )
        return page_keyset(events, _ORDER, cursor=cursor, limit=limit)

    def get_activity(self, activity_id: int) -> DataFrame:
        events, listing = self._events()
        if listing is not None:
            hit = pc.equal(listing["event_id"], activity_id)
            return self._local(listing.filter(hit), events)
        return events.where(F.col("event_id") == activity_id)

    # -- sync (api.go:315) -------------------------------------------------
    def sync_window(self, days: int = 1) -> DataFrame:
        """Activities within ``days`` days of the newest one.

        One filter, ``ts >= max(ts) - INTERVAL days``. Over a driver
        copy, max(ts) is the listing's first row (NULLs sort last) and
        the interval is whole days of microseconds, as Spark subtracts
        it in the session's UTC zone. Otherwise max(ts) is read from the
        handle (computed once per table version, see
        catalog.max_micros) and inlined as a literal, so the bound folds
        to a constant the scan can push down. An empty table returns no
        rows."""
        events, listing = self._events()
        if listing is not None:
            ts = listing["ts"]
            hwm = ts[0].value if len(ts) else None
            if hwm is None:
                return self._local(listing.slice(0, 0), events)
            bound = pa.scalar(hwm - days * 86_400_000_000, ts.type)
            return self._local(listing.filter(pc.greater_equal(ts, bound)), events)
        hwm = max_micros(events, "ts")
        if hwm is None:
            return events.where(F.lit(False))
        return events.where(
            F.col("ts")
            >= F.timestamp_micros(F.lit(hwm)) - F.expr(f"INTERVAL {days} DAY")
        )

    # -- api keys (user_api_keys.go) --------------------------------------
    def create_api_key(
        self,
        description: str,
        expiry_days: int = 30,
        user_id: int | None = None,
        key: str | None = None,
    ) -> str:
        """Register a new API key; ``expiry_days <= 0`` means no expiry
        (GenerateAPIKey, auth.go:39-59). The key is minted the way the
        reference does (auth.go:66-75 ``generateRandomString``): 32
        random bytes, URL-safe base64. An explicit ``key`` registers a
        caller-supplied value (imports, fixtures)."""
        now = datetime.utcnow()
        if key is None:
            key = base64.urlsafe_b64encode(secrets.token_bytes(32)).decode()
        expires = now + timedelta(days=expiry_days) if expiry_days > 0 else None
        self._key_rows.append((key, description, now, expires, True, user_id))
        return key

    def validate_api_key(self, key: str, now: datetime | None = None) -> bool:
        """is_active AND (no expiry OR expiry in future) — user_api_keys.go:36.

        Driver-local scan, NOT a Spark job: this sits on the
        per-request middleware path (authorized_call), where paying
        createDataFrame + plan + job-submit latency to answer a
        membership question over a driver-held list would add hundreds
        of ms per call. The DataFrame views (keys_for_user,
        read_api_key) remain for the analytical paths.

        Keys compare as UTF-8 bytes: ``hmac.compare_digest`` refuses
        ``str`` values holding non-ASCII characters."""
        now = now or datetime.utcnow()
        given = key.encode()
        for row in self._key_rows:
            k, _desc, _created, expires_at, is_active, _uid = row
            if (
                hmac.compare_digest(k.encode(), given)
                and is_active
                and (expires_at is None or expires_at > now)
            ):
                return True
        return False

    def keys_for_user(self, user_id: int) -> DataFrame:
        return self._keys.where(F.col("user_id") == user_id)

    # -- session tokens (auth.go:110 GenerateJWT / :130 ValidateJWT) -------
    # Compact HS256-style token: base64url(claims payload) + "." +
    # sha256(payload + secret). Same signature discipline the vectorized
    # jwt_validate registry query checks in bulk; these driver-side
    # methods are the per-request path the middleware composes.
    def generate_jwt(self, user_id: int, now: datetime | None = None) -> str:
        now = now or datetime.utcnow()
        exp = int((now + timedelta(minutes=self.token_duration)).timestamp())
        payload = f"uid={user_id};exp={exp}"
        sig = hashlib.sha256((payload + self.jwt_secret).encode()).hexdigest()
        return base64.urlsafe_b64encode(payload.encode()).decode() + "." + sig

    def validate_jwt(self, token: str, now: datetime | None = None) -> dict:
        """Claims on success; raises ValueError on malformed/forged/
        expired tokens (ValidateJWT, auth.go:130-151)."""
        now = now or datetime.utcnow()
        try:
            b64, sig = token.split(".", 1)
            payload = base64.urlsafe_b64decode(b64.encode()).decode()
            fields = dict(kv.split("=", 1) for kv in payload.split(";"))
            user_id, exp = int(fields["uid"]), int(fields["exp"])
        except (ValueError, KeyError) as e:
            raise ValueError(f"error parsing token: {e}") from e
        want = hashlib.sha256((payload + self.jwt_secret).encode()).hexdigest()
        # constant-time compare: ordinary != short-circuits at the first
        # differing hex char, leaking a timing channel an attacker can
        # use to recover a valid digest byte-by-byte; bytes, because a
        # forged signature may hold non-ASCII characters
        if not hmac.compare_digest(sig.encode(), want.encode()):
            raise ValueError("invalid token: signature mismatch")
        if exp <= int(now.timestamp()):
            raise ValueError("invalid token: expired")
        return {"user_id": user_id, "expires_at": exp}

    # -- middleware composition (auth.go:79 AuthMiddleware / :152 JWT) -----
    def authorized_call(
        self,
        credential: str | None,
        fn: Callable[[int | None], Any],
        now: datetime | None = None,
    ) -> Any:
        """Validate-then-execute, the reference's middleware chain as a
        facade method: a ``Bearer <token>`` credential goes through JWT
        validation (JWTMiddleware, auth.go:152 — including the
        two-part header format check) and ``fn`` receives the
        authenticated user id from the claims, exactly as the
        middleware stashes it in the request context; anything else is
        treated as an API key (AuthMiddleware, auth.go:79) and ``fn``
        receives ``None``. Invalid/missing credentials raise
        PermissionError — the 401 of this tier — and ``fn`` is never
        invoked."""
        if not credential:
            raise PermissionError("API key required")
        # route on the SCHEME TOKEN, not a prefix: the auth scheme is
        # case-insensitive (RFC 7235), so "bearer <jwt>" is a JWT — and
        # an API key that merely STARTS with "Bearer" (no space can
        # follow in a base64url key, but a future key alphabet might)
        # must not be hijacked into the JWT branch and auto-rejected.
        parts = credential.split(" ")
        if parts[0].lower() == "bearer":
            if len(parts) != 2 or not parts[1]:
                raise PermissionError("Invalid authorization header format")
            try:
                claims = self.validate_jwt(parts[1], now=now)
            except ValueError as e:
                raise PermissionError(f"Invalid token: {e}") from e
            return fn(claims["user_id"])
        if not self.validate_api_key(credential, now=now):
            raise PermissionError("Invalid API key")
        return fn(None)

    # -- api-key lifecycle (user_api_keys.go:94,111,135,161) ---------------
    def read_api_key(self, key: str) -> DataFrame:
        """ReadAPIKeyByID parity (key value is our natural id)."""
        return self._keys.where(F.col("key") == key)

    def update_api_key(
        self, key: str, *, description: str | None = None, is_active: bool | None = None
    ) -> bool:
        """UpdateAPIKey parity: mutate description/active flag in place."""
        for i, row in enumerate(self._key_rows):
            if row[0] == key:
                self._key_rows[i] = (
                    row[0],
                    description if description is not None else row[1],
                    row[2],
                    row[3],
                    is_active if is_active is not None else row[4],
                    row[5],
                )
                return True
        return False

    def delete_api_key(self, key: str) -> bool:
        """DeleteAPIKey parity."""
        n = len(self._key_rows)
        self._key_rows = [r for r in self._key_rows if r[0] != key]
        return len(self._key_rows) < n

    def associate_api_key_with_user(self, key: str, user_id: int) -> bool:
        """AssociateAPIKeyWithUser parity: re-point the key's owner."""
        for i, row in enumerate(self._key_rows):
            if row[0] == key:
                self._key_rows[i] = row[:5] + (user_id,)
                return True
        return False

    # -- users (user.go:34,56,74,92,110,125) -------------------------------
    # The base users dim derives from customer (as the registry's
    # user_upsert/user_lookup queries do); service-created users and
    # updates overlay it as local rows, deletes tombstone ids. At scale
    # the overlay IS a CDC feed into operators/upsert.merge_cdc — this
    # facade holds driver-scale admin mutations only.
    _USER_OVERLAY_BASE_ID = 10**9

    def _users(self) -> tuple[DataFrame, pa.Table | None]:
        """The users dim as a plan and, once customer's version has a
        driver copy, as an Arrow table, built once per (customer
        version, copy, overlay generation): a lookup after no change
        reuses the last build."""
        customer = load_table(self.spark, self.sf_dir, "customer")
        copy = note_read(customer)
        built = self._users_built
        if not (
            built is not None
            and built[0] is customer
            and built[1] is copy
            and built[2] == self._user_gen
        ):
            built = self._users_built = (
                customer, copy, self._user_gen, *self._build_users(customer, copy)
            )
        return built[3], built[4]

    def _build_users(
        self, customer: DataFrame, copy: pa.Table | None
    ) -> tuple[DataFrame, pa.Table | None]:
        overlay = arrow_rows(self._user_rows, USER_SCHEMA)
        gone = pa.array(sorted(self._deleted_user_ids), pa.int64())
        users = customer.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("username"),
            (F.col("c_custkey") + F.lit(10**7)).alias("athlete_id"),
        )
        if self._user_rows:
            rows = self.spark.createDataFrame(overlay, USER_SCHEMA)
            users = users.join(
                rows.select("user_id"), "user_id", "left_anti"
            ).unionByName(rows)
        if self._deleted_user_ids:
            tomb = self.spark.createDataFrame(
                pa.table({"user_id": gone}), StructType([USER_SCHEMA["user_id"]])
            )
            users = users.join(tomb, "user_id", "left_anti")
        if copy is None:
            return users, None
        # the same steps over the copy; a NULL key is in no value set, so
        # it survives both anti-joins, as in Spark
        base = pa.table(
            [
                copy["c_custkey"],
                copy["c_name"],
                pc.add_checked(copy["c_custkey"], 10**7),
            ],
            names=USER_SCHEMA.names,
        ).cast(overlay.schema)
        base = base.filter(pc.invert(pc.is_in(base["user_id"], overlay["user_id"])))
        local = pa.concat_tables([base, overlay])
        return users, local.filter(pc.invert(pc.is_in(local["user_id"], gone)))

    def _user_where(self, col: str, value) -> DataFrame:
        users, local = self._users()
        if local is not None:
            return self._local(local.filter(pc.equal(local[col], value)), users)
        return users.where(F.col(col) == value)

    def create_user(self, username: str, athlete_id: int) -> int:
        """CreateUser parity; returns the new user id."""
        uid = self._USER_OVERLAY_BASE_ID + len(self._user_rows)
        self._user_rows.append((uid, username, athlete_id))
        self._user_gen += 1
        return uid

    def get_user_by_id(self, user_id: int) -> DataFrame:
        return self._user_where("user_id", user_id)

    def get_user_by_username(self, username: str) -> DataFrame:
        return self._user_where("username", username)

    def get_user_by_athlete_id(self, athlete_id: int) -> DataFrame:
        return self._user_where("athlete_id", athlete_id)

    def update_user(
        self, user_id: int, *, username: str | None = None, athlete_id: int | None = None
    ) -> bool:
        """UpdateUser parity: overlay the changed fields (latest wins)."""
        cur = self.get_user_by_id(user_id).take(1)
        if not cur or user_id in self._deleted_user_ids:
            return False
        row = cur[0]
        self._user_rows = [r for r in self._user_rows if r[0] != user_id]
        self._user_rows.append(
            (
                user_id,
                username if username is not None else row["username"],
                athlete_id if athlete_id is not None else row["athlete_id"],
            )
        )
        self._user_gen += 1
        return True

    def delete_user(self, user_id: int) -> bool:
        """DeleteUser parity (tombstone; base-dim rows stay immutable)."""
        if not self.get_user_by_id(user_id).take(1):
            return False
        self._deleted_user_ids.add(user_id)
        self._user_gen += 1
        return True
