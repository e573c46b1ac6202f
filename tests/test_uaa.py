"""UAA client-credentials transport tests (S1 auth surface).

Mirrors the reference fetcher suite's mocked UAA + events endpoints
(cf_audit_event_fetcher_test.go:202-236: the go-cfclient config acquires a
bearer token from the token endpoint before paging /v2/events).  A real
ThreadingHTTPServer plays both roles; no Spark session needed — the
transport is a plain ``url -> dict`` callable.
"""

from __future__ import annotations

import base64
import http.server
import json
import threading
import urllib.error

import pytest

from paas_auditor_spark.sources.paginated_http import (
    discover_token_url,
    uaa_transport,
)

CLIENT_ID = "paas-auditor"
CLIENT_SECRET = "s3cret"


class FakeCF:
    """One server, three endpoints: /v2/info, /oauth/token, /v2/events."""

    def __init__(self) -> None:
        self.token_posts: list[dict] = []
        self.event_gets: list[str | None] = []
        self.issued = 0
        self.valid_tokens: set[str] = set()
        self.honor_new_tokens = True  # False: issue tokens the API rejects
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802
                if self.path == "/v2/info":
                    self._json(200, {"token_endpoint": outer.url})
                    return
                if self.path.startswith("/v2/events"):
                    auth = self.headers.get("Authorization")
                    outer.event_gets.append(auth)
                    token = (auth or "").removeprefix("bearer ")
                    if token not in outer.valid_tokens:
                        self._json(401, {"error": "invalid_token"})
                        return
                    self._json(
                        200,
                        {
                            "total_results": 1,
                            "total_pages": 1,
                            "next_url": None,
                            "resources": [],
                        },
                    )
                    return
                self._json(404, {})

            def do_POST(self):  # noqa: N802
                if self.path != "/oauth/token":
                    self._json(404, {})
                    return
                length = int(self.headers.get("Content-Length", "0"))
                form = self.rfile.read(length).decode()
                basic = self.headers.get("Authorization", "")
                outer.token_posts.append({"form": form, "auth": basic})
                # accept the confidential engine client OR the public "cf"
                # client (empty secret) that the password grant uses
                accepted = {
                    "Basic "
                    + base64.b64encode(
                        f"{CLIENT_ID}:{CLIENT_SECRET}".encode()
                    ).decode(),
                    "Basic " + base64.b64encode(b"cf:").decode(),
                }
                if basic not in accepted:
                    self._json(401, {"error": "unauthorized"})
                    return
                outer.issued += 1
                token = f"tok-{outer.issued}"
                if outer.honor_new_tokens:
                    outer.valid_tokens.add(token)
                self._json(200, {"access_token": token, "token_type": "bearer"})

            def log_message(self, *args):
                pass

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()

    @property
    def url(self) -> str:
        host, port = self.server.server_address
        return f"http://{host}:{port}"

    def close(self) -> None:
        self.server.shutdown()


@pytest.fixture
def cf():
    server = FakeCF()
    yield server
    server.close()


def test_acquires_token_and_sends_bearer(cf):
    transport = uaa_transport(f"{cf.url}/oauth/token", CLIENT_ID, CLIENT_SECRET)
    page = transport(f"{cf.url}/v2/events?q=x")
    assert page["total_pages"] == 1
    # client_credentials grant with HTTP Basic client auth, then bearer GET
    assert cf.token_posts[0]["form"].startswith("grant_type=client_credentials")
    assert cf.event_gets == ["bearer tok-1"]
    # token is cached: a second page does not re-hit the token endpoint
    transport(f"{cf.url}/v2/events?page=2")
    assert len(cf.token_posts) == 1


def test_401_refreshes_token_once_and_retries(cf):
    transport = uaa_transport(f"{cf.url}/oauth/token", CLIENT_ID, CLIENT_SECRET)
    transport(f"{cf.url}/v2/events")
    cf.valid_tokens.clear()  # token expires server-side
    page = transport(f"{cf.url}/v2/events")  # 401 → refresh → retry → 200
    assert page["total_results"] == 1
    assert len(cf.token_posts) == 2
    assert cf.event_gets[-2:] == ["bearer tok-1", "bearer tok-2"]


def test_persistent_401_propagates(cf):
    transport = uaa_transport(f"{cf.url}/oauth/token", CLIENT_ID, CLIENT_SECRET)
    transport(f"{cf.url}/v2/events")
    # server rejects everything from now on, even freshly issued tokens:
    # exactly ONE refresh is attempted, then the 401 propagates
    cf.valid_tokens.clear()
    cf.honor_new_tokens = False
    with pytest.raises(urllib.error.HTTPError):
        transport(f"{cf.url}/v2/events")
    assert len(cf.token_posts) == 2  # initial grant + the single refresh


def test_bad_client_secret_raises(cf):
    transport = uaa_transport(f"{cf.url}/oauth/token", CLIENT_ID, "wrong")
    with pytest.raises(urllib.error.HTTPError):
        transport(f"{cf.url}/v2/events")


def test_password_grant_acquires_token_as_cf_client(cf):
    """CF_USERNAME/CF_PASSWORD parity (main_config.go:42-43): the password
    grant authenticates as the public ``cf`` client with an empty secret,
    exactly like go-cfclient's getUserAuth (client.go:155-165)."""
    transport = uaa_transport(
        f"{cf.url}/oauth/token", "cf", "", username="admin", password="pw1"
    )
    page = transport(f"{cf.url}/v2/events?q=x")
    assert page["total_pages"] == 1
    form = cf.token_posts[0]["form"]
    assert "grant_type=password" in form
    assert "username=admin" in form
    assert "password=pw1" in form
    assert cf.token_posts[0]["auth"] == "Basic " + base64.b64encode(b"cf:").decode()
    assert cf.event_gets == ["bearer tok-1"]
    # cached token: no re-grant on the next page
    transport(f"{cf.url}/v2/events?page=2")
    assert len(cf.token_posts) == 1


def test_password_grant_refreshes_on_401(cf):
    transport = uaa_transport(
        f"{cf.url}/oauth/token", "cf", "", username="admin", password="pw1"
    )
    transport(f"{cf.url}/v2/events")
    cf.valid_tokens.clear()
    page = transport(f"{cf.url}/v2/events")
    assert page["total_results"] == 1
    assert len(cf.token_posts) == 2
    assert all("grant_type=password" in p["form"] for p in cf.token_posts)


def test_resolve_transport_env_mode_switch(cf):
    """__main__.resolve_transport mirrors go-cfclient's auth priority
    (client.go:342-352): CF_TOKEN > CF_CLIENT_ID > CF_USERNAME."""
    from paas_auditor_spark.__main__ import resolve_transport

    # password grant from reference-named env vars
    transport = resolve_transport(
        {
            "CF_USERNAME": "admin",
            "CF_PASSWORD": "pw1",
            "CF_TOKEN_URL": f"{cf.url}/oauth/token",
        },
        cf.url,
    )
    page = transport(f"{cf.url}/v2/events")
    assert page["total_pages"] == 1
    assert "grant_type=password" in cf.token_posts[0]["form"]

    # client-credentials wins over username when both are set
    cf.token_posts.clear()
    transport = resolve_transport(
        {
            "CF_CLIENT_ID": CLIENT_ID,
            "CF_CLIENT_SECRET": CLIENT_SECRET,
            "CF_USERNAME": "admin",
            "CF_PASSWORD": "pw1",
            "CF_TOKEN_URL": f"{cf.url}/oauth/token",
        },
        cf.url,
    )
    transport(f"{cf.url}/v2/events")
    assert "grant_type=client_credentials" in cf.token_posts[0]["form"]

    # static token wins over everything
    cf.valid_tokens.add("static-tok")
    transport = resolve_transport(
        {"CF_TOKEN": "static-tok", "CF_USERNAME": "admin"}, cf.url
    )
    page = transport(f"{cf.url}/v2/events")
    assert page["total_results"] == 1
    assert cf.event_gets[-1] == "bearer static-tok"


def test_discover_token_url(cf):
    assert discover_token_url(cf.url) == f"{cf.url}/oauth/token"
    # unreachable info endpoint → conventional fallback
    assert (
        discover_token_url("http://127.0.0.1:1", timeout_s=0.2)
        == "http://127.0.0.1:1/oauth/token"
    )


def test_stream_reader_uses_password_grant(cf):
    """Streaming mode honours CF_USERNAME/CF_PASSWORD: the cf_events
    reader resolves the same transport as loop mode, discovers the token
    endpoint, runs the password grant and sends its bearer token."""
    from paas_auditor_spark.sources.datasource import CfEventsStreamReader

    reader = CfEventsStreamReader(
        {"base_url": cf.url, "CF_USERNAME": "admin", "CF_PASSWORD": "pw1"}
    )
    start = reader.initialOffset()
    batch, end = reader.read(start)
    assert list(batch) == [] and end == start
    assert "grant_type=password" in cf.token_posts[0]["form"]
    assert "username=admin" in cf.token_posts[0]["form"]
    assert cf.event_gets == ["bearer tok-1"]


def test_cli_stream_options_carry_credentials_and_pacing(cf, monkeypatch):
    """ENGINE_MODE=streaming hands the source the CF credentials that are
    set and FETCHER_PAGINATION_WAIT_TIME as ``wait_s``; the reader then
    pauses that long between pages."""
    import time

    from paas_auditor_spark.__main__ import stream_source_options
    from paas_auditor_spark.config import EngineConfig
    from paas_auditor_spark.sources.datasource import CfEventsStreamReader

    monkeypatch.setenv("FETCHER_PAGINATION_WAIT_TIME", "150ms")
    environ = {
        "CF_USERNAME": "admin",
        "CF_PASSWORD": "pw1",
        "CF_CLIENT_ID": "",
        "SPLUNK_API_KEY": "not-a-cf-option",
    }
    options = stream_source_options(environ, EngineConfig())
    assert options == {"CF_USERNAME": "admin", "CF_PASSWORD": "pw1", "wait_s": 0.15}

    # three chained pages: two pacing waits between them
    pages = iter(
        [{"next_url": "/v2/events?page=2"}, {"next_url": "/v2/events?page=3"}, {}]
    )
    reader = CfEventsStreamReader(
        {"base_url": cf.url, **{k: str(v) for k, v in options.items()}}
    )
    assert reader.wait_s == 0.15
    reader.transport = lambda url: next(pages)
    t0 = time.perf_counter()
    reader.read(reader.initialOffset())
    assert time.perf_counter() - t0 >= 0.3
