"""Auth/token lifecycle contract for injected fetch callables.

The reference refreshes credentials in two places: Spotify access
tokens minted from a long-lived refresh token
(dags/scripts/spotify_auth.py:23-52,auth_with_refresh_token) and
YouTube OAuth credentials refreshed-or-reauthorized on expiry
(dags/scripts/youtube_elt.py:57-84).  Neither network flow can run in
this environment, so what the engine standardizes is the SHAPE: every
injected ``fetch`` callable (sources/rest.py, matching's
RestCandidateSource) can be wrapped in ``with_auth_retry`` to get the
same refresh-on-401 / bounded-backoff-on-429 behavior the reference's
clients implement, with the clock and sleep injectable so the loop is
testable with a fake clock.

Executor note: the wrapper holds per-process state (one token per
Python worker).  That is exactly how a Spark cluster should behave —
each executor process authenticates once and refreshes independently;
tokens are never shipped through closures from the driver.
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable
from dataclasses import dataclass, field


#: ceilings on one wait and on one call's total wait, in seconds: past
#: either a call fails instead of stalling as long as Retry-After asks
MAX_WAIT_S = 60.0
MAX_TOTAL_WAIT_S = 300.0


def bounded_wait(call: str, asked, wait: float, waited: float) -> float:
    """``waited + wait``, or a ``TimeoutError`` naming ``call`` and the
    server's value ``asked`` when that passes a ceiling."""
    if wait > MAX_WAIT_S or waited + wait > MAX_TOTAL_WAIT_S:
        raise TimeoutError(f"{call}: server asked to wait {asked!r}, past the retry ceiling")
    return waited + wait


class AuthError(Exception):
    """The API rejected the credential (HTTP 401 shape)."""


class TransientError(Exception):
    """Retryable failure (HTTP 429/5xx shape); carries optional
    ``retry_after`` seconds."""

    def __init__(self, msg: str = "", retry_after: float | None = None):
        super().__init__(msg)
        self.retry_after = retry_after


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
    - TransientError -> exponential backoff (or the server's
      retry_after), at most ``max_transient_retries`` times; a wait
      past ``MAX_WAIT_S``, or a total past ``MAX_TOTAL_WAIT_S``, raises
      ``TimeoutError`` instead (``bounded_wait``).

    Returns ``wrapped(*args)`` — the token argument is managed here,
    so call sites stay credential-free."""

    def wrapped(*args, **kwargs):
        refreshed = False
        transient = 0
        waited = 0.0
        while True:
            token = provider.get()
            try:
                return fetch(token, *args, **kwargs)
            except AuthError:
                if refreshed:
                    raise
                provider.invalidate()
                refreshed = True
            except TransientError as e:
                if transient >= max_transient_retries:
                    raise
                wait = e.retry_after if e.retry_after is not None else backoff * 2**transient
                call = getattr(fetch, "__name__", repr(fetch))
                waited = bounded_wait(call, e.retry_after, wait, waited)
                sleep(wait)
                transient += 1

    return wrapped
