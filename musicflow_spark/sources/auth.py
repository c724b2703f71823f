"""The REST client: one HTTP call, one retry loop, one token lifecycle.

The reference refreshes credentials in two places: Spotify access
tokens minted from a long-lived refresh token
(dags/scripts/spotify_auth.py:23-52,auth_with_refresh_token) and
YouTube OAuth credentials refreshed-or-reauthorized on expiry
(dags/scripts/youtube_elt.py:57-84), and its clients retry rate
limits.  Here:

- ``http_json`` is the one HTTP call (stdlib urllib): it maps a 401 to
  ``AuthError`` and a 429/5xx to ``TransientError`` carrying the
  server's raw ``Retry-After``.  Every fetch callable the sources take
  (sources/rest.py, matching's RestCandidateSource) and the
  ``musicflow_rest`` Data Source call it.
- ``retry_transient`` is the one retry loop: on a ``TransientError``
  it waits what ``Retry-After`` asks (seconds or an HTTP-date) or a
  doubling backoff, within the ceilings of ``bounded_wait``.
- ``with_auth_retry`` adds the refresh-on-401 step of the reference's
  clients on top of that loop, with the clock and sleep injectable so
  it is testable with a fake clock.

Executor note: the wrapper holds per-process state (one token per
Python worker).  That is exactly how a Spark cluster should behave —
each executor process authenticates once and refreshes independently;
tokens are never shipped through closures from the driver.
"""

from __future__ import annotations

import json
import math
import time as _time
import urllib.error
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone
from email.utils import parsedate_to_datetime

#: ceilings on one wait and on one call's total wait, in seconds: past
#: either a call fails instead of stalling as long as Retry-After asks
MAX_WAIT_S = 60.0
MAX_TOTAL_WAIT_S = 300.0


def bounded_wait(call: str, asked, wait: float, waited: float) -> float:
    """``waited + wait``, or a ``TimeoutError`` naming ``call`` and the
    server's value ``asked`` (or, when the server sent none, the
    client's own backoff ``wait``) when that passes a ceiling."""
    if wait > MAX_WAIT_S or waited + wait > MAX_TOTAL_WAIT_S:
        what = f"client backoff of {wait}s" if asked is None else f"server asked to wait {asked!r}"
        raise TimeoutError(f"{call}: {what}, past the retry ceiling")
    return waited + wait


def retry_after_s(value: str | float | None, fallback: float) -> float:
    """``Retry-After`` delay-seconds or HTTP-date (RFC 9110 §10.2.3) ->
    seconds to wait, at least 0; ``fallback`` when absent or neither."""
    try:
        seconds = float(value)
    except (TypeError, ValueError):
        try:
            when = parsedate_to_datetime(value)
        except (TypeError, ValueError):
            return fallback
        if when.tzinfo is None:
            when = when.replace(tzinfo=timezone.utc)
        seconds = (when - datetime.now(timezone.utc)).total_seconds()
    return max(seconds, 0.0) if math.isfinite(seconds) else fallback


def retry_transient(
    attempt: Callable[[], object],
    call: str,
    max_retries: int,
    backoff: float,
    sleep: Callable[[float], None] = _time.sleep,
):
    """``attempt()``, retried at most ``max_retries`` times on a
    ``TransientError``.  The n-th retry (from 0) waits what the
    server's ``retry_after`` asks, or ``backoff * 2**n`` capped at
    ``MAX_WAIT_S`` without one; a wait past ``MAX_WAIT_S``, or a total
    past ``MAX_TOTAL_WAIT_S``, raises ``TimeoutError`` naming ``call``
    (``bounded_wait``).  So only the server can ask for one wait past
    the ceiling."""
    waited = 0.0
    for n in range(max_retries + 1):
        try:
            return attempt()
        except TransientError as e:
            if n == max_retries:
                raise
            wait = retry_after_s(e.retry_after, min(backoff * 2**n, MAX_WAIT_S))
            waited = bounded_wait(call, e.retry_after, wait, waited)
            sleep(wait)


class AuthError(Exception):
    """The API rejected the credential (HTTP 401 shape)."""


class TransientError(Exception):
    """Retryable failure (HTTP 429/5xx shape); carries the server's
    ``retry_after`` as sent (seconds or an HTTP-date), or None."""

    def __init__(self, msg: str = "", retry_after: float | str | None = None):
        super().__init__(msg)
        self.retry_after = retry_after


def http_json(url: str, headers: dict | None = None, payload=None):
    """GET ``url`` -> its parsed JSON reply; with ``payload``, POST it
    as JSON instead and return None (a write's reply is not read).

    A 401 raises ``AuthError``; a 429 or 5xx raises ``TransientError``
    with the raw ``Retry-After``; any other error status propagates as
    ``urllib.error.HTTPError``."""
    data = None if payload is None else json.dumps(payload).encode()
    headers = dict(headers or {})
    if data is not None:
        headers.setdefault("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(urllib.request.Request(url, data, headers)) as r:
            return json.loads(r.read()) if data is None else None
    except urllib.error.HTTPError as e:
        if e.code == 401:
            raise AuthError(f"{url}: HTTP 401") from e
        if e.code == 429 or e.code >= 500:
            raise TransientError(f"{url}: HTTP {e.code}", e.headers.get("Retry-After")) from e
        raise


@dataclass
class TokenProvider:
    """Mint-and-cache access tokens from a refresh callable.

    ``refresh_fn() -> (token, expires_in_seconds)`` is the injected
    network flow (the reference's auth_with_refresh_token /
    credentials.refresh).  ``get`` returns the cached token while
    valid (with ``skew`` seconds of safety margin) and re-mints
    otherwise; ``invalidate`` forces the next ``get`` to re-mint —
    the 401 path."""

    refresh_fn: Callable[[], tuple[str, float]]
    skew: float = 30.0
    clock: Callable[[], float] = _time.monotonic
    _token: str | None = field(default=None, init=False)
    _expires_at: float = field(default=0.0, init=False)
    refresh_count: int = field(default=0, init=False)

    def get(self) -> str:
        if self._token is None or self.clock() >= self._expires_at - self.skew:
            self._token, ttl = self.refresh_fn()
            self._expires_at = self.clock() + ttl
            self.refresh_count += 1
        return self._token

    def invalidate(self) -> None:
        self._token = None


def with_auth_retry(
    fetch: Callable[..., object],
    provider: TokenProvider,
    max_transient_retries: int = 3,
    backoff: float = 1.0,
    sleep: Callable[[float], None] = _time.sleep,
):
    """Wrap ``fetch(token, *args) -> result`` with the reference's
    client behavior:

    - AuthError -> invalidate + re-mint the token, retry ONCE (the
      401-refresh loop, youtube_elt.py:71-81); a second AuthError
      propagates (re-auth needs a human, :75-80).
    - TransientError -> ``retry_transient``: the server's retry_after,
      or exponential backoff, at most ``max_transient_retries`` times
      and within the ceilings of ``bounded_wait``.

    Returns ``wrapped(*args)`` — the token argument is managed here,
    so call sites stay credential-free."""
    call = getattr(fetch, "__name__", repr(fetch))

    def wrapped(*args, **kwargs):
        refreshed = False

        def attempt():
            nonlocal refreshed
            try:
                return fetch(provider.get(), *args, **kwargs)
            except AuthError:
                if refreshed:
                    raise
                refreshed = True
                provider.invalidate()
            return fetch(provider.get(), *args, **kwargs)

        return retry_transient(attempt, call, max_transient_retries, backoff, sleep)

    return wrapped
