"""Rate-limited paginated HTTP event source.

Re-expresses the reference fetcher (pkg/fetchers/cf_audit_event_fetcher.go:16-84):
GET /v2/events with ``q=timestamp>{watermark}`` (S2 source-side pushdown),
``results-per-page=100`` (S3), follow ``next_url`` until exhausted, sleep
between pages (rate limit), decode the envelope (S4) per page.

The transport is injectable (any ``url -> dict`` callable) so tests drive
the pager with canned pages exactly like the reference's httpmock suite
(cf_audit_event_fetcher_test.go:202-236); ``uaa_transport`` is the
authenticated urllib transport for real deployments.

Scale notes: pagination is inherently sequential (next_url chaining), so
the pager runs driver-side and hands page batches to Spark — the same
boundary the reference draws with its fetch goroutine + channel.  Spark
parallelism starts at normalization; with multiple source shards (one
cursor per org/space), run one pager per shard in parallel.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from paas_auditor_spark.operators.ingest import normalize_envelope

Transport = Callable[[str], dict]

TIME_FORMAT = "%Y-%m-%dT%H:%M:%SZ"  # reference cf_audit_event_fetcher.go:26


def build_events_url(
    base_url: str, since: dt.datetime, page_size: int = 100
) -> str:
    """First-page URL with the watermark pushed down as a source predicate
    (reference cf_audit_event_fetcher.go:25-31)."""
    q = f"timestamp>{since.strftime(TIME_FORMAT)}"
    return f"{base_url}/v2/events?q={q}&results-per-page={page_size}"


def fetch_event_pages(
    transport: Transport,
    base_url: str,
    since: dt.datetime,
    page_size: int = 100,
    wait_s: float = 0.2,
    sleep: Callable[[float], None] = time.sleep,
) -> Iterator[dict]:
    """Yield decoded envelope pages, following next_url, pacing requests
    (reference cf_audit_event_fetcher.go:33-57)."""
    url: str | None = build_events_url(base_url, since, page_size)
    first = True
    while url:
        if not first:
            sleep(wait_s)
        first = False
        page = transport(url)
        yield page
        nxt = page.get("next_url")
        url = f"{base_url}{nxt}" if nxt else None


def pages_to_dataframe(spark: SparkSession, pages: list[dict]) -> DataFrame:
    """Page envelopes → flat event DataFrame via the JVM-side normalizer."""
    raw = spark.createDataFrame(
        [(json.dumps(p),) for p in pages], schema="payload string"
    )
    return normalize_envelope(raw)


def discover_token_url(base_url: str, timeout_s: float = 30.0) -> str:
    """Resolve the UAA token endpoint from the CF API's /v2/info document.

    Parity: go-cfclient bootstraps auth by reading ``token_endpoint`` from
    ``GET {api}/v2/info`` (the reference's client is built from
    ``cfg.CFClientConfig`` at main.go:45).  Falls back to the conventional
    ``{api}/oauth/token`` if the info document omits it.
    """
    import urllib.request

    try:
        with urllib.request.urlopen(  # noqa: S310
            f"{base_url}/v2/info", timeout=timeout_s
        ) as resp:
            info = json.load(resp)
        endpoint = info.get("token_endpoint")
    except Exception:
        endpoint = None
    return f"{endpoint}/oauth/token" if endpoint else f"{base_url}/oauth/token"


def uaa_transport(
    token_url: str,
    client_id: str,
    client_secret: str,
    timeout_s: float = 30.0,
    *,
    username: str | None = None,
    password: str | None = None,
) -> Transport:
    """Authenticated CF transport: UAA OAuth2 grant (S1).

    Two grants, mirroring go-cfclient's auth modes (client.go:342-352):

    - **client_credentials** (default): parity with
      ``CF_CLIENT_ID``/``CF_CLIENT_SECRET`` (main_config.go:44-45); the
      fetcher tests mock exactly this UAA token endpoint
      (cf_audit_event_fetcher_test.go:202-236).
    - **password** (``username``/``password`` given): parity with
      ``CF_USERNAME``/``CF_PASSWORD`` (main_config.go:42-43) — the
      reference's default mode when no client id is set; go-cfclient
      authenticates the grant as the public ``cf`` client with an empty
      secret (client.go:155-165), which is what the caller passes here.

    Both grants:

    - lazily POST the grant (HTTP Basic client auth) to ``token_url``
      and cache the bearer token,
    - send ``Authorization: bearer <token>`` on every events request,
    - on a 401 (token expired/revoked) re-acquire a fresh token and
      retry the request exactly once; any other failure propagates.

    Stdlib urllib only — no extra dependencies; the pager stays transport-
    agnostic (this is just another ``url -> dict`` callable).
    """
    import base64
    import urllib.error
    import urllib.parse
    import urllib.request

    state: dict[str, str | None] = {"token": None}

    def fetch_token() -> str:
        if username is not None:
            grant = {
                "grant_type": "password",
                "username": username,
                "password": password or "",
                "response_type": "token",
            }
        else:
            grant = {"grant_type": "client_credentials", "response_type": "token"}
        body = urllib.parse.urlencode(grant).encode()
        basic = base64.b64encode(
            f"{client_id}:{client_secret}".encode()
        ).decode()
        req = urllib.request.Request(
            token_url,
            data=body,
            headers={
                "Authorization": f"Basic {basic}",
                "Content-Type": "application/x-www-form-urlencoded",
                "Accept": "application/json",
            },
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
            payload = json.load(resp)
        token = payload.get("access_token")
        if not token:
            raise RuntimeError("UAA token response missing access_token")
        return token

    def get(url: str) -> dict:
        if state["token"] is None:
            state["token"] = fetch_token()
        for attempt in (0, 1):
            req = urllib.request.Request(
                url, headers={"Authorization": f"bearer {state['token']}"}
            )
            try:
                with urllib.request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
                    return json.load(resp)
            except urllib.error.HTTPError as ex:
                if ex.code == 401 and attempt == 0:
                    state["token"] = fetch_token()  # expired → refresh once
                    continue
                raise
        raise AssertionError("unreachable")

    return get


__all__ = [
    "TIME_FORMAT",
    "Transport",
    "build_events_url",
    "discover_token_url",
    "fetch_event_pages",
    "pages_to_dataframe",
    "uaa_transport",
]
