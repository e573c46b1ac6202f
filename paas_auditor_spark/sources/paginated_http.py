"""The Cloud Foundry events client: one transport, one pager, one decoder
and one watermark rule, shared by both collector modes.

Re-expresses the reference fetcher (pkg/fetchers/cf_audit_event_fetcher.go:16-84):
GET /v2/events with ``q=timestamp>{watermark}`` (S2 source-side pushdown),
``results-per-page=100`` (S3), follow ``next_url`` until exhausted, sleep
between pages (rate limit), decode the envelope (S4) per page.

- **Transport** (``resolve_transport``): a ``url -> dict`` callable for
  every auth mode of the reference's client (none, static token, UAA
  client credentials, UAA password grant — S1).  It sends
  ``Authorization: bearer <token>``, re-acquires a UAA token once after a
  401, and retries transient failures (5xx, 429, timeouts, connection
  errors) ``RETRIES`` times from ``BACKOFF_S``, doubling; other 4xx raise.
- **Pager** (``fetch_event_pages``): follows ``next_url``, pacing requests.
- **Decoder** (``decode_resource``): one envelope resource → one row of
  ``EVENT_ROWS``.  ``created_at`` is timezone-aware UTC, so the stored
  instant never depends on the process timezone; ``metadata`` keeps its
  JSON structure.
- **Watermark** (``watermark``): max(created_at) − overlap, floored at
  the epoch (T2).

Loop mode (``runner.Service.collector_tick``) runs the pager per tick and
hands the decoded tuples straight to ``operators.ingest.ingest_delta``;
streaming mode (``sources.datasource.CfEventsStreamReader``) runs the
same pager and decoder per micro-batch.  Tests inject any ``url -> dict``
callable as the transport, like the reference's httpmock suite
(cf_audit_event_fetcher_test.go:202-236).

Scale notes: pagination is inherently sequential (next_url chaining), so
the pager runs driver-side — the same boundary the reference draws with
its fetch goroutine + channel — and so do the ingest step that follows
it and the store's append of the rows it finds fresh.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import types as T

from paas_auditor_spark.operators.cursor import EPOCH_TS
from paas_auditor_spark.schemas import CF_AUDIT_EVENT

Transport = Callable[[str], dict]

TIME_FORMAT = "%Y-%m-%dT%H:%M:%SZ"  # reference cf_audit_event_fetcher.go:26

TIMEOUT_S = 30.0
RETRIES = 3  # transient failures retried this many times per request
BACKOFF_S = 0.5  # first retry delay, doubled on each further retry

# the stored metadata JSON: compact, sorted keys, ASCII-escaped; one
# encoder for every row, where a json.dumps call with these options
# would build a new one per row
_METADATA_JSON = json.JSONEncoder(sort_keys=True, separators=(",", ":"))

# the reference's CF credential env vars (main_config.go:42-47), read by
# resolve_transport from the process env or from cf_events source options
CF_AUTH_ENV = (
    "CF_TOKEN",
    "CF_CLIENT_ID",
    "CF_CLIENT_SECRET",
    "CF_USERNAME",
    "CF_PASSWORD",
    "CF_TOKEN_URL",
)

# decoded rows: the event-table columns, every one nullable so a resource
# missing a field reaches ingest_delta's validation instead of failing the
# batch
EVENT_ROWS = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in CF_AUDIT_EVENT.fields]
)


# -- transport --------------------------------------------------------------


def http_transport(
    token: str | None = None,
    grant: Callable[[], str] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> Transport:
    """GET ``url`` → decoded JSON, with bearer auth and the retry envelope.

    ``token`` is a static bearer token (CF_TOKEN, client.go:343-344).
    ``grant`` acquires one from UAA: it runs before the first request and
    once more after a 401 (expired or revoked token), then the request is
    retried; a second 401 propagates.  ``sleep`` is injectable for tests.
    """
    state = {"token": token}

    def get(url: str) -> dict:
        refreshed = False
        attempt = 0
        while True:
            if grant is not None and state["token"] is None:
                state["token"] = grant()
            headers = {}
            if state["token"]:
                headers["Authorization"] = f"bearer {state['token']}"
            try:
                req = urllib.request.Request(url, headers=headers)
                with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:  # noqa: S310
                    return json.load(resp)
            except urllib.error.HTTPError as ex:
                if ex.code == 401 and grant is not None and not refreshed:
                    refreshed = True
                    state["token"] = None
                    continue
                transient = ex.code >= 500 or ex.code == 429
                if not transient or attempt >= RETRIES:
                    raise
            except (urllib.error.URLError, TimeoutError):
                if attempt >= RETRIES:
                    raise
            sleep(BACKOFF_S * 2**attempt)
            attempt += 1

    return get


def discover_token_url(base_url: str, timeout_s: float = TIMEOUT_S) -> str:
    """Resolve the UAA token endpoint from the CF API's /v2/info document.

    Parity: go-cfclient bootstraps auth by reading ``token_endpoint`` from
    ``GET {api}/v2/info`` (the reference's client is built from
    ``cfg.CFClientConfig`` at main.go:45).  Falls back to the conventional
    ``{api}/oauth/token`` if the info document omits it.
    """
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

    The grant is POSTed with HTTP Basic client auth; the token is cached
    and refreshed by ``http_transport``'s 401 rule.
    """

    def grant() -> str:
        if username is not None:
            form = {
                "grant_type": "password",
                "username": username,
                "password": password or "",
                "response_type": "token",
            }
        else:
            form = {"grant_type": "client_credentials", "response_type": "token"}
        basic = base64.b64encode(f"{client_id}:{client_secret}".encode()).decode()
        req = urllib.request.Request(
            token_url,
            data=urllib.parse.urlencode(form).encode(),
            headers={
                "Authorization": f"Basic {basic}",
                "Content-Type": "application/x-www-form-urlencoded",
                "Accept": "application/json",
            },
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:  # noqa: S310
            payload = json.load(resp)
        token = payload.get("access_token")
        if not token:
            raise RuntimeError("UAA token response missing access_token")
        return token

    return http_transport(grant=grant)


def resolve_transport(environ, base_url: str) -> Transport:
    """CF auth — the reference's go-cfclient mode switch (client.go:342-352):
    static CF_TOKEN first, then CF_CLIENT_ID client-credentials, then
    CF_USERNAME/CF_PASSWORD password grant (main_config.go:42-47); with no
    creds at all, unauthenticated (the test/synthetic path).  ``environ``
    is any mapping holding the ``CF_AUTH_ENV`` names."""
    if environ.get("CF_TOKEN"):
        return http_transport(token=environ["CF_TOKEN"])
    client_id = environ.get("CF_CLIENT_ID", "")
    client_secret = environ.get("CF_CLIENT_SECRET", "")
    username = environ.get("CF_USERNAME", "")
    if client_id and client_secret:
        creds: dict = {"client_id": client_id, "client_secret": client_secret}
    elif username:
        # go-cfclient runs the password grant as the public "cf" client
        # with an empty secret (client.go:155-165)
        creds = {
            "client_id": "cf",
            "client_secret": "",
            "username": username,
            "password": environ.get("CF_PASSWORD", ""),
        }
    else:
        return http_transport()
    token_url = environ.get("CF_TOKEN_URL") or discover_token_url(base_url)
    return uaa_transport(token_url, **creds)


# -- pager ------------------------------------------------------------------

# page size (reference cf_audit_event_fetcher.go:29, fixed 100)
PAGE_SIZE = 100


def build_events_url(
    base_url: str, since: dt.datetime, page_size: int = PAGE_SIZE
) -> str:
    """First-page URL with the watermark pushed down as a source predicate
    (reference cf_audit_event_fetcher.go:25-31)."""
    q = f"timestamp>{since.strftime(TIME_FORMAT)}"
    return f"{base_url}/v2/events?q={q}&results-per-page={page_size}"


def fetch_event_pages(
    transport: Transport,
    base_url: str,
    since: dt.datetime,
    page_size: int = PAGE_SIZE,
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


# -- decoder ----------------------------------------------------------------


def parse_created(created) -> dt.datetime | None:
    """RFC3339 → timezone-aware UTC datetime.  Fractional seconds and
    numeric offsets are accepted; a value without an offset is read as
    UTC.  Unparseable values become None, so ``ingest_delta`` rejects the
    row instead of the batch dying on one bad record."""
    if not isinstance(created, str) or not created:
        return None
    try:
        parsed = dt.datetime.fromisoformat(created)
    except ValueError:
        return None
    if parsed.tzinfo is None:
        return parsed.replace(tzinfo=dt.timezone.utc)
    return parsed.astimezone(dt.timezone.utc)


def decode_resource(resource: dict) -> tuple:
    """One envelope resource → an ``EVENT_ROWS`` tuple.

    Parity with reference cf_audit_event_fetcher.go:71-81: Meta.guid and
    Meta.created_at are flattened into the entity; '' → NULL for the org
    and space guids (store.go:91, P3); the entity's metadata object is
    kept whole as compact JSON with sorted keys."""
    meta = resource.get("metadata") or {}
    ent = resource.get("entity") or {}
    metadata = ent.get("metadata")
    return (
        meta.get("guid"),
        parse_created(meta.get("created_at")),
        ent.get("type"),
        ent.get("actor"),
        ent.get("actor_type"),
        ent.get("actor_name"),
        ent.get("actor_username"),
        ent.get("actee"),
        ent.get("actee_type"),
        ent.get("actee_name"),
        ent.get("organization_guid") or None,
        ent.get("space_guid") or None,
        None
        if metadata is None
        else _METADATA_JSON.encode(metadata),
    )


def decode_pages(pages: Iterable[dict]) -> Iterator[tuple]:
    """Every resource of every page envelope, decoded."""
    return (decode_resource(r) for p in pages for r in p.get("resources") or ())


# -- watermark --------------------------------------------------------------

# watermark overlap (reference cf_audit_event_collector.go:36, fixed 5s)
WATERMARK_OVERLAP_S = 5.0


def watermark(latest: dt.datetime) -> dt.datetime:
    """Next fetch floor: ``latest`` − ``WATERMARK_OVERLAP_S``, never before
    the epoch (T2, reference cf_audit_event_collector.go:36,92-104).  Keeps
    ``latest``'s tzinfo."""
    wm = latest - dt.timedelta(seconds=WATERMARK_OVERLAP_S)
    return EPOCH_TS.replace(tzinfo=wm.tzinfo) if wm.year < 1970 else wm


__all__ = [
    "BACKOFF_S",
    "CF_AUTH_ENV",
    "EVENT_ROWS",
    "PAGE_SIZE",
    "RETRIES",
    "TIME_FORMAT",
    "Transport",
    "WATERMARK_OVERLAP_S",
    "build_events_url",
    "decode_pages",
    "decode_resource",
    "discover_token_url",
    "fetch_event_pages",
    "http_transport",
    "parse_created",
    "resolve_transport",
    "uaa_transport",
    "watermark",
]
