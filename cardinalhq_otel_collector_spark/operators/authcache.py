"""A17/§2C — API-key auth cache with the reference's exact staleness rules
(extension/chqauthextension/serverauth.go:137-277).

The reference guards a gRPC/HTTP receiver; here the same semantics guard
the enrichment lookup a pipeline uses to attach tenant identity to rows.
The cache is deliberately a driver-side dict: it's control-plane state
(one entry per API key — thousands, not billions), refreshed against a
validator, then exported as a snapshot DataFrame and broadcast-joined into
the row stream (operators/enrich.py).

Ported behaviors (each pinned by a pytest golden mirroring
serverauth_test.go):

  1. **Revoked is definitive** (serverauth.go:196-207): a denial from the
     validator replaces any cached valid entry immediately and is itself
     cached under the invalid-TTL — a revoked key never authenticates
     again off stale cache.
  2. **Transient failure serves stale** (serverauth.go:209-219): when the
     validator errors transiently (network / 5xx / parse), an expired
     cached entry keeps authenticating — availability over freshness.
  3. **valid:true with empty customer_id is a denial**
     (serverauth.go:252-268): a contract-violating response never becomes
     an authenticated identity with an empty tenant.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "AuthDenied",
    "TransientAuthError",
    "ValidateResponse",
    "AuthEntry",
    "AuthCache",
]


class AuthDenied(Exception):
    """errDenied — definitive invalid/revoked key."""


class TransientAuthError(Exception):
    """errTransient — validator unhealthy (network / 5xx / parse)."""


@dataclass
class ValidateResponse:
    """validateResponse (serverauth.go:132-136)."""

    customer_id: str
    customer_name: str
    valid: bool


@dataclass
class AuthEntry:
    api_key: str
    customer_id: str
    customer_name: str
    valid: bool
    expiry: float


@dataclass
class AuthCache:
    """authenticateAPIKey's cache loop (serverauth.go:182-224).

    ``validator`` is any callable api_key → ValidateResponse; it raises
    TransientAuthError for validator-unhealthy conditions. A response with
    valid=False OR empty customer_id is a denial (callValidateAPI's
    post-check, serverauth.go:252-268).
    """

    validator: object
    ttl_valid: float = 600.0
    ttl_invalid: float = 60.0
    _cache: dict[str, AuthEntry] = field(default_factory=dict)

    def _getcache(self, api_key: str, now: float) -> tuple[AuthEntry | None, bool]:
        """(entry, expired) — expired entries are returned for the
        transient-fallback path but removed from the cache
        (serverauth.go:137-156)."""
        ad = self._cache.get(api_key)
        if ad is None:
            return None, False
        if ad.expiry < now:
            del self._cache[api_key]
            return ad, True
        return ad, False

    def authenticate(self, api_key: str, now: float | None = None) -> AuthEntry:
        now = _time.time() if now is None else now
        cached, expired = self._getcache(api_key, now)
        if cached is not None and not expired:
            if not cached.valid:
                raise AuthDenied(api_key)  # cached denial still denies
            return cached
        try:
            resp = self.validator(api_key)
        except TransientAuthError:
            if cached is not None:
                # transient failure: serve the stale entry (availability)
                self._cache[api_key] = cached  # keep serving until healthy
                if not cached.valid:
                    raise AuthDenied(api_key) from None
                return cached
            raise
        if not resp.valid or resp.customer_id == "":
            # definitive denial — never fall back to a stale valid entry
            self._cache[api_key] = AuthEntry(
                api_key, "", "", False, now + self.ttl_invalid
            )
            raise AuthDenied(api_key)
        ad = AuthEntry(
            api_key, resp.customer_id, resp.customer_name, True, now + self.ttl_valid
        )
        self._cache[api_key] = ad
        return ad

    def snapshot(self, spark: SparkSession, now: float | None = None) -> DataFrame:
        """The cache as a lookup DataFrame (api_key, customer_id,
        customer_name, valid) — broadcast-join it into the row stream via
        operators.enrich. Denied/expired entries surface valid=false, so
        downstream filters can drop or dead-letter those rows; the TTL
        semantics live in authenticate(), the snapshot is just the current
        state (SURVEY §2A A16: TTL cache → snapshot-versioned lookup)."""
        now = _time.time() if now is None else now
        rows = [
            (e.api_key, e.customer_id or None, e.customer_name or None, e.valid)
            for e in self._cache.values()
            if e.expiry >= now
        ]
        return local_frame(
            spark, rows, "api_key string, customer_id string, customer_name string, valid boolean"
        )

    def enrich(
        self, df: DataFrame, key_col: str = "api_key", now: float | None = None
    ) -> DataFrame:
        """Broadcast-join the current snapshot onto a row stream; unknown
        keys get valid=false (auth-denied analogue)."""
        snap = self.snapshot(df.sparkSession, now=now)
        out = df.join(
            F.broadcast(snap.withColumnRenamed("api_key", key_col)), key_col, "left"
        )
        return out.withColumn("valid", F.coalesce(F.col("valid"), F.lit(False)))
