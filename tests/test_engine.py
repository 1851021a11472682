"""Engine facade + registry + probing + report tests (reference
tests/test_engine.py:86-141, tests/test_registry.py semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from model_audit_spark.engine import AuditEngine
from model_audit_spark.probing import (
    HTTPProbeSource,
    StaticResponseSource,
    _retry_call,
)
from model_audit_spark.registry import get_fingerprinter, list_methods
from model_audit_spark.report import generate_report


@pytest.fixture()
def responses(spark):
    rows = []
    for seq in range(1, 5):
        rows.append(
            (
                "teacher-gpt-4",
                seq,
                f"p{seq}",
                "qa",
                "Certainly! Here's a comprehensive breakdown. It's "
                "important to note that 1) first 2) second. Let me know "
                "if you'd like more detail.",
            )
        )
        rows.append(
            (
                "student-model",
                seq,
                f"p{seq}",
                "qa",
                "Certainly! Here's a comprehensive breakdown. It's "
                "important to note that 1) first 2) second. Let me know "
                "if you'd like more detail.",
            )
        )
    return spark.createDataFrame(
        rows,
        "model_id STRING, probe_seq INT, probe_id STRING, category STRING, "
        "response STRING",
    )


def test_registry_lists_methods_and_rejects_unknown():
    methods = list_methods()
    assert methods == {
        "llmmap": "blackbox",
        "dli": "blackbox",
        "reef": "whitebox",
    }
    # 'style' is NOT registered — reference parity (registry.py:27-29)
    with pytest.raises(ValueError, match="dli, llmmap, reef"):
        get_fingerprinter("style")


def test_audit_identical_responses_likely_derived(spark, responses):
    eng = AuditEngine(spark, StaticResponseSource(responses))
    result = eng.audit("teacher-gpt-4", "student-model")
    v = result.verdict.first()
    assert v.verdict == "likely_derived"
    assert v.derived_votes == v.total_votes == 2  # llmmap + dli
    assert abs(v.avg_similarity - 1.0) < 1e-9
    cons = result.consistency.first()
    assert cons.consistent == cons.total == 4
    methods = {r.method for r in result.comparisons.collect()}
    assert methods == {"llmmap", "dli"}


def test_audit_empty_responses_skips_dli(spark):
    rows = [
        ("a", 1, "p1", "qa", ""),
        ("b", 1, "p1", "qa", ""),
    ]
    resp = spark.createDataFrame(
        rows,
        "model_id STRING, probe_seq INT, probe_id STRING, category STRING, "
        "response STRING",
    )
    eng = AuditEngine(spark, StaticResponseSource(resp))
    result = eng.audit("a", "b")
    assert result.skipped_methods == ["dli"]
    assert {r.method for r in result.comparisons.collect()} == {"llmmap"}


def test_compare_single_method(spark, responses):
    eng = AuditEngine(spark, StaticResponseSource(responses))
    row = eng.compare("teacher-gpt-4", "student-model", "llmmap").first()
    assert row.similarity == pytest.approx(1.0)
    assert row.is_derived


def test_verify_claimed_family_match(spark, responses):
    eng = AuditEngine(spark, StaticResponseSource(responses))
    row = eng.verify("teacher-gpt-4").first()
    assert row.claimed_family == "gpt-4"
    assert row.best_match in {"gpt-4", "gpt-3.5"}
    # model with responses but no family substring in its name
    renamed = eng.probe_source.responses.withColumn(
        "model_id", F.lit("mystery-model")
    )
    eng2 = AuditEngine(spark, StaticResponseSource(renamed))
    row2 = eng2.verify("mystery-model").first()
    assert row2.claimed_family == "unknown" and not row2.verified
    # and no responses at all -> explicit reason row
    row3 = eng.verify("not-probed").first()
    assert not row3.verified and row3.reason == "no responses"


def test_detect_via_engine(spark):
    texts = spark.createDataFrame(
        [(0, "你好！这是一个测试。我们来分析一下这个问题。")],
        "text_id INT, text STRING",
    )
    eng = AuditEngine(spark)
    out = eng.detect(texts).first()
    assert out.predicted_model  # some family predicted


def test_report_sections(spark, responses):
    eng = AuditEngine(spark, StaticResponseSource(responses))
    result = eng.audit("teacher-gpt-4", "student-model")
    md = generate_report(result)
    for header in [
        "# 模型蒸馏审计报告",
        "## 1. 审计对象",
        "## 2. 审计方法",
        "## 3. 审计结果",
        "## 4. 关键发现",
        "## 5. 结论",
        "## 6. 局限性声明",
    ]:
        assert header in md
    assert "可能存在蒸馏关系" in md
    assert "4/4" in md
    js = generate_report(result, fmt="json")
    import json

    parsed = json.loads(js)
    assert parsed["verdict"]["verdict"] == "likely_derived"


def test_retry_call_matrix():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("boom")
        return "ok"

    assert _retry_call(flaky, sleep=lambda s: None) == "ok"

    def auth_fail():
        raise ValueError("401 unauthorized")

    with pytest.raises(ValueError):
        _retry_call(auth_fail, sleep=lambda s: None)

    def always_empty():
        return ""

    with pytest.raises(RuntimeError, match="empty response"):
        _retry_call(always_empty, sleep=lambda s: None)

    # status codes classify as standalone tokens, never substrings: an
    # HTTP 500 whose URL contains the digits 401 (here: ephemeral port
    # 40351, the measured full-suite flake) must exhaust retries as a
    # server error, NOT fail fast as an auth error
    def port_contains_401():
        raise RuntimeError("HTTP 500 for http://127.0.0.1:40351/v1/x")

    with pytest.raises(RuntimeError, match="after 3 retries"):
        _retry_call(port_contains_401, sleep=lambda s: None)

    # a REAL 401 token still fails fast
    def real_401():
        raise RuntimeError("HTTP 401 for http://127.0.0.1:9/v1/x")

    with pytest.raises(ValueError, match="auth"):
        _retry_call(real_401, sleep=lambda s: None)

    # standalone 3-digit tokens OUTSIDE an HTTP-status context never
    # classify: a byte count, a bare port, or a request id containing
    # 401/403 must exhaust retries as a generic error (round-9 advice:
    # the token-exact matcher still misfired on "403 bytes" / port 401)
    for msg in (
        "read 403 bytes from socket",
        "connection refused on port 401",
        "request id 403-abc failed",
    ):
        with pytest.raises(RuntimeError, match="after 3 retries"):
            _retry_call(
                lambda m=msg: (_ for _ in ()).throw(RuntimeError(m)),
                sleep=lambda s: None,
            )

    # ...while status-context spellings from every shipped transport
    # and client (httpx-style, urllib-style, HTTP/1.1 status line) do
    for msg in (
        "HTTP/1.1 401 Unauthorized",
        "HTTP Error 403: Forbidden",
        "status 401 from upstream",
        # code-BEFORE-reason formats (requests-style raise_for_status,
        # bare status lines) — the reason phrase is the context
        "401 Client Error: Unauthorized for url: http://x/v1/y",
        "403 Forbidden",
        # snake/camel status attribute spellings (round-10 advice: the
        # underscore in status_code defeated the old \b-anchored
        # alternation, burning retries instead of failing fast)
        "status_code=401",
        "response.status_code: 403",
        "statuscode 401",
    ):
        with pytest.raises(ValueError, match="auth"):
            _retry_call(
                lambda m=msg: (_ for _ in ()).throw(RuntimeError(m)),
                sleep=lambda s: None,
            )

    # code-first rate limits take the LONG backoff leg (min 4 s first
    # sleep), not the generic short one — a custom transport spelling
    # "429 Too Many Requests" must not burn retries inside the window
    sleeps: list[float] = []
    with pytest.raises(RuntimeError, match="after 3 retries"):
        _retry_call(
            lambda: (_ for _ in ()).throw(
                RuntimeError("429 Too Many Requests")
            ),
            sleep=sleeps.append,
        )
    assert sleeps and all(s >= 4.0 for s in sleeps)


class _FakeResp:
    def __init__(self, payload, status=200):
        self._payload = payload
        self.status = status

    def raise_for_status(self):
        if self.status >= 400:
            raise RuntimeError(f"HTTP {self.status}")

    def json(self):
        return self._payload


def test_openai_wire_transport_offline():
    from model_audit_spark.probing import OpenAIWireTransport

    seen = {}

    def fake_post(url, json=None, headers=None, timeout=None):
        seen.update(url=url, json=json, headers=headers, timeout=timeout)
        return _FakeResp(
            {"choices": [{"message": {"content": "pong"}}]}
        )

    t = OpenAIWireTransport(
        api_base="https://example.test/", api_key="sk-x", post=fake_post
    )
    assert t("gpt-x", "ping") == "pong"
    # reference wire semantics (llmmap.py:200-280)
    assert seen["url"] == "https://example.test/v1/chat/completions"
    assert seen["json"]["max_tokens"] == 500
    assert seen["json"]["temperature"] == 0.0
    assert seen["json"]["messages"] == [{"role": "user", "content": "ping"}]
    assert seen["headers"]["Authorization"] == "Bearer sk-x"

    def post_403(url, json=None, headers=None, timeout=None):
        return _FakeResp({}, status=403)

    t403 = OpenAIWireTransport(post=post_403)
    # auth errors reclassify as ValueError and fail fast through the
    # retry matrix (no retries burned)
    with pytest.raises(ValueError, match="auth"):
        _retry_call(lambda: t403("m", "p"), sleep=lambda s: None)


def test_http_probe_source_default_transport_is_openai_wire():
    from model_audit_spark.probing import OpenAIWireTransport

    src = HTTPProbeSource(api_base="https://example.test", api_key="k")
    assert isinstance(src.transport, OpenAIWireTransport)
    # the live client resolves at call time: httpx when installed, the
    # stdlib urllib fallback otherwise — a dead loopback port fails with
    # a CONNECTION error either way, never an ImportError
    dead = HTTPProbeSource(api_base="http://127.0.0.1:9", api_key="k")
    with pytest.raises(Exception) as exc:
        dead.transport("m", "p")
    assert not isinstance(exc.value, ImportError)


def test_http_probe_source_with_fake_transport(spark):
    src = HTTPProbeSource(
        transport=lambda model, prompt: f"{model} says: {prompt[:20]}",
        concurrency=2,
    )
    out = src.probe(spark, ["m1", "m2"])
    rows = out.collect()
    assert len(rows) == 40  # 2 models × 20 probes
    assert all(r.response.startswith(r.model_id) for r in rows)
    assert {r.model_id for r in rows} == {"m1", "m2"}


def test_anthropic_wire_transport_offline():
    from model_audit_spark.probing import AnthropicWireTransport

    seen = {}

    def fake_post(url, json=None, headers=None, timeout=None):
        seen.update(url=url, json=json, headers=headers, timeout=timeout)
        return _FakeResp({"content": [{"type": "text", "text": "pong"}]})

    t = AnthropicWireTransport(
        api_base="https://example.test/", api_key="sk-a", post=fake_post
    )
    assert t("claude-x", "ping") == "pong"
    # reference wire semantics (llmmap.py:231-254): messages API,
    # max_tokens=500, NO temperature key, x-api-key auth + version header
    assert seen["url"] == "https://example.test/v1/messages"
    assert seen["json"]["max_tokens"] == 500
    assert "temperature" not in seen["json"]
    assert seen["json"]["messages"] == [{"role": "user", "content": "ping"}]
    assert seen["headers"]["x-api-key"] == "sk-a"
    assert seen["headers"]["anthropic-version"] == "2023-06-01"

    # empty content block -> "" (reference: response.content[0].text if
    # response.content else ""), which the retry matrix treats as empty
    t_empty = AnthropicWireTransport(
        post=lambda *a, **k: _FakeResp({"content": []})
    )
    assert t_empty("m", "p") == ""
    with pytest.raises(RuntimeError, match="empty response"):
        _retry_call(lambda: t_empty("m", "p"), sleep=lambda s: None)

    # auth failures fail fast like the OpenAI wire
    t401 = AnthropicWireTransport(
        post=lambda *a, **k: _FakeResp({}, status=401)
    )
    with pytest.raises(ValueError, match="auth"):
        _retry_call(lambda: t401("m", "p"), sleep=lambda s: None)


def test_make_transport_provider_matrix():
    from model_audit_spark.probing import (
        AnthropicWireTransport,
        OpenAIWireTransport,
        make_transport,
    )

    assert isinstance(make_transport("openai"), OpenAIWireTransport)
    t = make_transport("anthropic", api_key="k")
    assert isinstance(t, AnthropicWireTransport)
    assert t.api_base == "https://api.anthropic.com"
    custom = make_transport("custom", api_base="https://my.llm")
    assert isinstance(custom, OpenAIWireTransport)
    assert custom.api_base == "https://my.llm"
    # reference llmmap.py: custom provider REQUIRES api_base
    with pytest.raises(ValueError, match="api_base"):
        make_transport("custom")
    with pytest.raises(ValueError, match="unknown provider"):
        make_transport("cohere")


def test_http_probe_source_anthropic_provider():
    from model_audit_spark.probing import AnthropicWireTransport

    src = HTTPProbeSource(provider="anthropic", api_key="k")
    assert isinstance(src.transport, AnthropicWireTransport)
    dead = HTTPProbeSource(
        provider="anthropic", api_base="http://127.0.0.1:9", api_key="k"
    )
    with pytest.raises(Exception) as exc:
        dead.transport("m", "p")
    assert not isinstance(exc.value, ImportError)


# --------------------------------------------------------------- real wire
# r7 (verdict task 7): exercise the REAL post path — default_post()'s
# live client against a recorded loopback http.server — instead of the
# injected fake, covering JSON encoding, header transmission, status
# classification, and the Spark mapInPandas probe end-to-end.


class _WireServer:
    """Threaded loopback HTTP server with scripted per-path responses
    and a request recorder. Responses: list of (status, payload dict)
    consumed in order per path; the last one repeats."""

    def __init__(self, scripts: dict[str, list[tuple[int, dict]]]):
        import http.server
        import json as _json
        import threading

        recorder = self.requests = []

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 — http.server API
                body = self.rfile.read(
                    int(self.headers.get("Content-Length", 0))
                )
                recorder.append(
                    {
                        "path": self.path,
                        "headers": {k.lower(): v for k, v in self.headers.items()},
                        "json": _json.loads(body or b"{}"),
                    }
                )
                script = scripts.get(self.path, [(404, {})])
                status, payload = script.pop(0) if len(script) > 1 else script[0]
                blob = _json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(blob)))
                self.end_headers()
                self.wfile.write(blob)

            def log_message(self, *a):  # silence stderr
                pass

        self.server = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), Handler
        )
        self.base = f"http://127.0.0.1:{self.server.server_address[1]}"
        self._thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self._thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()


def test_real_wire_openai_and_anthropic_against_loopback_server():
    """Both transports with post=None (the real default_post client)
    against a live loopback server: request bodies, auth headers and
    response parsing all cross a real HTTP socket."""
    from model_audit_spark.probing import (
        AnthropicWireTransport,
        OpenAIWireTransport,
    )

    srv = _WireServer(
        {
            "/v1/chat/completions": [
                (200, {"choices": [{"message": {"content": "oai-pong"}}]})
            ],
            "/v1/messages": [
                (200, {"content": [{"type": "text", "text": "ant-pong"}]})
            ],
        }
    )
    try:
        oai = OpenAIWireTransport(api_base=srv.base, api_key="sk-live")
        assert oai("gpt-x", "ping") == "oai-pong"
        ant = AnthropicWireTransport(api_base=srv.base, api_key="sk-a")
        assert ant("claude-x", "ping") == "ant-pong"
    finally:
        srv.close()

    oai_req = next(
        r for r in srv.requests if r["path"] == "/v1/chat/completions"
    )
    assert oai_req["headers"]["authorization"] == "Bearer sk-live"
    assert oai_req["headers"]["content-type"] == "application/json"
    assert oai_req["json"]["max_tokens"] == 500
    assert oai_req["json"]["temperature"] == 0.0
    assert oai_req["json"]["messages"] == [
        {"role": "user", "content": "ping"}
    ]
    ant_req = next(r for r in srv.requests if r["path"] == "/v1/messages")
    assert ant_req["headers"]["x-api-key"] == "sk-a"
    assert ant_req["headers"]["anthropic-version"] == "2023-06-01"
    assert ant_req["json"]["max_tokens"] == 500
    assert "temperature" not in ant_req["json"]


def test_real_wire_status_classification_through_retry_matrix():
    """Over the real wire: 401 fail-fasts as ValueError, 429-then-200
    succeeds after the rate-limit backoff, persistent 500 exhausts
    retries — the same matrix the fake-post tests pin, now with actual
    HTTP status lines."""
    from model_audit_spark.probing import OpenAIWireTransport, _retry_call

    srv = _WireServer(
        {
            "/v1/chat/completions": [
                (429, {"error": "rate limited"}),
                (200, {"choices": [{"message": {"content": "recovered"}}]}),
            ]
        }
    )
    try:
        t = OpenAIWireTransport(api_base=srv.base)
        assert (
            _retry_call(lambda: t("m", "p"), sleep=lambda s: None)
            == "recovered"
        )
    finally:
        srv.close()

    srv401 = _WireServer({"/v1/chat/completions": [(401, {})]})
    try:
        t = OpenAIWireTransport(api_base=srv401.base)
        with pytest.raises(ValueError, match="auth"):
            _retry_call(lambda: t("m", "p"), sleep=lambda s: None)
        assert len(srv401.requests) == 1  # fail-fast: no retries burned
    finally:
        srv401.close()

    srv500 = _WireServer({"/v1/chat/completions": [(500, {})]})
    try:
        t = OpenAIWireTransport(api_base=srv500.base)
        with pytest.raises(RuntimeError, match="after 3 retries"):
            _retry_call(lambda: t("m", "p"), sleep=lambda s: None)
        assert len(srv500.requests) == 3
    finally:
        srv500.close()


def test_real_wire_messages_status_classification_and_probe(spark):
    """The messages-wire twin of the OpenAI-wire real-socket suite:
    429-then-200 recovers through the retry backoff, 401 fail-fasts
    with no retries burned, and the full mapInPandas probe pipeline
    (provider transport called from Spark python workers) lands every
    row — same loopback server, real status lines."""
    from model_audit_spark.probing import AnthropicWireTransport, _retry_call

    srv = _WireServer(
        {
            "/v1/messages": [
                (429, {"error": "rate limited"}),
                (200, {"content": [{"type": "text", "text": "recovered"}]}),
            ]
        }
    )
    try:
        t = AnthropicWireTransport(api_base=srv.base, api_key="k")
        assert (
            _retry_call(lambda: t("m", "p"), sleep=lambda s: None)
            == "recovered"
        )
    finally:
        srv.close()

    srv401 = _WireServer({"/v1/messages": [(401, {})]})
    try:
        t = AnthropicWireTransport(api_base=srv401.base, api_key="k")
        with pytest.raises(ValueError, match="auth"):
            _retry_call(lambda: t("m", "p"), sleep=lambda s: None)
        assert len(srv401.requests) == 1  # fail-fast: no retries burned
    finally:
        srv401.close()

    srv_ok = _WireServer(
        {
            "/v1/messages": [
                (200, {"content": [{"type": "text", "text": "live-resp"}]})
            ]
        }
    )
    try:
        src = HTTPProbeSource(
            provider="anthropic",
            api_base=srv_ok.base,
            api_key="k",
            concurrency=2,
        )
        out = src.probe(spark, ["model-a", "model-b"]).collect()
    finally:
        srv_ok.close()
    assert len(out) == 40
    assert {r["response"] for r in out} == {"live-resp"}
    assert len(srv_ok.requests) == 40
    auth = {r["headers"]["x-api-key"] for r in srv_ok.requests}
    assert auth == {"k"}


def test_http_probe_source_end_to_end_over_real_wire(spark):
    """The full probe pipeline — HTTPProbeSource.probe's mapInPandas
    stage calling the provider transport from Spark python workers —
    against the loopback server: 2 models x 20 probes, every response
    row landed, all 40 requests observed server-side."""
    srv = _WireServer(
        {
            "/v1/chat/completions": [
                (200, {"choices": [{"message": {"content": "live-resp"}}]})
            ]
        }
    )
    try:
        src = HTTPProbeSource(
            api_base=srv.base, api_key="k", concurrency=2
        )
        out = src.probe(spark, ["model-a", "model-b"]).collect()
    finally:
        srv.close()
    assert len(out) == 40
    assert {r["model_id"] for r in out} == {"model-a", "model-b"}
    assert {r["response"] for r in out} == {"live-resp"}
    assert len(srv.requests) == 40
    models_seen = {r["json"]["model"] for r in srv.requests}
    assert models_seen == {"model-a", "model-b"}


# ------------------------------------------------- audit result lifecycle


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_audit_report_verify_release_leaves_no_cache(spark, responses):
    """A request (audit + report + verify) persists its result relations,
    those of cosine_compare and behavior_compare included, and
    release_all() frees every one of them, request after request."""
    from model_audit_spark import persistence

    persistence.release_all()
    start = _persistent_rdd_ids(spark)
    eng = AuditEngine(spark, StaticResponseSource(responses))
    for _ in range(2):
        result = eng.audit("teacher-gpt-4", "student-model")
        generate_report(result)
        eng.verify("student-model").collect()
        assert len(_persistent_rdd_ids(spark) - start) >= 4
        persistence.release_all()
        assert _persistent_rdd_ids(spark) - start == set()
        assert persistence.tracked_count() == 0


def test_audit_injected_responses_narrow_to_the_pair(spark, responses):
    """A responses table holding a third model gives the same verdict as
    the two-model table: only the audited pair votes."""
    from model_audit_spark import persistence

    third = spark.createDataFrame(
        [
            (
                "other-model", seq, f"p{seq}", "qa",
                "I'm sorry, but I can't help with that request.",
            )
            for seq in range(1, 5)
        ],
        responses.schema,
    )
    eng = AuditEngine(spark)
    pair = ("teacher-gpt-4", "student-model")
    try:
        two = eng.audit(*pair, responses=responses)
        three = eng.audit(*pair, responses=responses.unionByName(third))
        assert three.verdict.first() == two.verdict.first()
        comps = three.comparisons.collect()
        assert sorted(r.method for r in comps) == ["dli", "llmmap"]
        assert {(r.model_a, r.model_b) for r in comps} == {
            ("student-model", "teacher-gpt-4")
        }
        assert "other-model" not in generate_report(three)
    finally:
        persistence.release_all()


def test_audit_over_http_keeps_probe_concurrency(spark, tmp_path):
    """audit() narrows the responses to one partition AFTER the probe
    stage: the live calls still run on `concurrency` partitions, and each
    (model, probe) is called exactly once per audit."""
    import os

    from model_audit_spark import persistence
    from model_audit_spark.catalogs import probes_df
    from model_audit_spark.probing import OpenAIWireTransport

    log_dir = str(tmp_path)

    def fake_post(url, json=None, headers=None, timeout=None):
        from pyspark import TaskContext

        class Resp:
            def raise_for_status(self):
                pass

            def json(self):
                return {"choices": [{"message": {"content": "Certainly! "
                        "Here's a breakdown. Let me know if that helps."}}]}

        pid = TaskContext.get().partitionId()
        with open(os.path.join(log_dir, f"partition-{pid}"), "a") as f:
            f.write(json["model"] + "\n")
        return Resp()

    src = HTTPProbeSource(
        transport=OpenAIWireTransport(
            api_base="https://example.test", post=fake_post
        ),
        concurrency=4,
    )
    try:
        result = AuditEngine(spark, src).audit("model-a", "model-b")
        assert result.verdict.first().total_votes == 2
    finally:
        persistence.release_all()
    calls = {
        p.name: p.read_text().split() for p in tmp_path.iterdir()
    }
    assert sorted(calls) == [f"partition-{i}" for i in range(4)]
    assert sum(len(v) for v in calls.values()) == 2 * probes_df(spark).count()
