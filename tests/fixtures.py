"""Tiny handcrafted fixture covering every class and every malformed-input
policy of FIXTURES.md §2 (one list, reused by the golden tests)."""

T0 = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in µs

ROUTER_OK = (
    'at=info method=GET path="/api" host=aabbccdd.herokuapp.com '
    'request_id=0f0e0d0c-1111-4222-8333-444455556666 fwd="1.2.3.4" dyno=web.1 '
    "connect=3ms service=42ms status=200 bytes=512"
)
ROUTER_NO_MS = "at=info method=GET path=/ host=h request_id=r dyno=web.2 connect=5 service=7 status=301 bytes=100"
ROUTER_BAD_STATUS = ROUTER_OK.replace("status=200", "status=abc")  # → dropped
ROUTER_EMPTY_SERVICE = ROUTER_OK.replace("service=42ms", "service=")  # → dropped (Atoi(""))
ROUTER_MISSING_INTS = 'at=info method=GET path="/x" host=h request_id=r'  # absent keys → 0s, kept
ROUTER_UNTERMINATED = ROUTER_OK + ' desc="oops'  # → dropped (unterminated string)
ROUTER_ERROR = (
    'at=error code=H12 desc="Request timeout" method=GET path="/api" host=h '
    'fwd="1.2.3.4" dyno=web.3 connect=1ms service=30000ms status=503 bytes=0 sock=client'
)
ROUTER_ERROR_EMPTY_INTS = (
    'at=error code=H99 desc="Platform error" method=GET path="/y" host=h '
    "dyno= connect= service= status= bytes= sock=client"
)  # ints swallowed → kept
ROUTER_BLANK_CODE = 'at=error code=blank-app desc="x" status=502'
ROUTER_BLANK_DESC = 'at=error desc="Blank app" status=502'
DYNO_ERROR = "Error R14 (Memory quota exceeded)"
DYNO_ERROR_1DIGIT = "Error R9 (oops)"  # slice "9 " → dropped
DYNO_ERROR_ALPHA = "Error Rxx (bad)"  # → dropped
MEM_OK = (
    "source=web.2 dyno=heroku.123.abc sample#memory_total=372.51MB "
    "sample#memory_rss=127.25MB sample#memory_cache=0.00MB sample#memory_swap=0.01MB "
    "sample#memory_pgpgin=147395pages sample#memory_pgpgout=315153pages"
)
MEM_NO_SOURCE = "dyno=heroku.1.x sample#memory_total=100.00MB sample#memory_rss=50.00MB"  # silently dropped
MEM_PARTIAL = "source=worker.7 sample#memory_total=12.50MB"  # missing keys → 0s, kept
LOAD_OK = "source=web.4 dyno=heroku.5.y sample#load_avg_1m=1.75 sample#load_avg_5m=2.50 sample#load_avg_15m=0.25"
LOAD_NO_SOURCE = "dyno=heroku.6.z sample#load_avg_1m=0.10 sample#load_avg_5m=0.20 sample#load_avg_15m=0.30"
UNKNOWN_HEROKU = "State changed from starting to up"
UNKNOWN_USER = "hello from my app"
CROSS_MEM_ON_ROUTER = "source=web.2 dyno=h.1.q sample#memory_total=64.00MB"  # router branch → all-zero point

# --- adversarial quoted spans: a `key=` / bare key INSIDE a quoted value
# must not be treated as a key (scanner tokenizes quotes first,
# logfmt/scanner.go:10-149). NB the ` code=H` CLASSIFICATION sentinel is a
# raw byte test in the reference (drain.go:135) — quote-blind by design —
# so RERR_QUOTED_TRAP classifying as router_error is contract-correct;
# only field EXTRACTION is quote-aware.
RERR_QUOTED_TRAP = (
    'at=error desc="injected code=H99 inside" code=H13 method=GET '
    "dyno=web.9 status=503 sock=backend"
)  # code must be H13, not the quoted H99
ROUTER_QUOTED_TRAP = (
    'at=info note="x status=999 y" method=GET path="/z" host=h request_id=r '
    "dyno=web.7 connect=3ms service=5ms status=200 bytes=10"
)  # status must be 200, not the quoted 999
ROUTER_BARE_IN_QUOTES = (
    'at=info note="has connect inside" method=GET path=/q host=h request_id=r '
    "dyno=web.8 service=2ms status=201 bytes=1"
)  # 'connect' only inside quotes → NOT present → kept with connect=0
MEM_QUOTED_TRAP = (
    'note="fake source=web.99 x" source=web.8 dyno=h.2.r sample#memory_total=64.00MB'
)  # source must be web.8, not the quoted web.99

# --- canonical-tail fast-path boundary (schemas.MEGA_*): rows the mega
# pattern must MISS and hand to the per-key fallback with identical results
ROUTER_SHUFFLED = (
    "at=info method=GET path=/s host=h request_id=r dyno=web.10 "
    "status=418 bytes=7 connect=2ms service=9ms"
)  # keys out of canonical order → mega miss, kept via per-key (418/9)
ROUTER_TRAILING = ROUTER_OK.replace("bytes=512", "bytes=512 protocol=https")
# token after bytes → end-anchor miss, kept via per-key (200/42)
MEM_ODD_PREFIX = (
    "source=web.11 dyno=h.3.s sample#memory_total=33.00MB "
    "other#memory_rss=11.00MB"
)  # non-'sample#' rss prefix → literal tail miss; suffix-match fallback → 33/11
RERR_NOT_HEAD = (
    'junk=1 at=error code=H18 desc="Server Request Interrupted" dyno=web.12 status=503'
)  # code not in head-anchored position → per-key fallback, code=H18

C1 = "t.11111111-1111-4111-8111-111111111111"
C2 = "t.22222222-2222-4222-8222-222222222222"
C3 = "t.33333333-3333-4333-8333-333333333333"
OVR = "t.99999999-9999-4999-8999-999999999999"


def tiny_rows():
    """(conv_id, turn_idx, role, text, tool, ts_us) — every branch exercised."""
    rows = [
        (C1, 0, "heroku", ROUTER_OK, "router"),
        (C1, 1, "heroku", ROUTER_NO_MS, "router"),
        (C1, 2, "heroku", ROUTER_BAD_STATUS, "router"),
        (C1, 3, "heroku", ROUTER_EMPTY_SERVICE, "router"),
        (C1, 4, "heroku", ROUTER_MISSING_INTS, "router"),
        (C1, 5, "heroku", ROUTER_UNTERMINATED, "router"),
        (C1, 6, "heroku", ROUTER_ERROR, "router"),
        (C1, 7, "heroku", ROUTER_ERROR_EMPTY_INTS, "router"),
        (C1, 8, "heroku", ROUTER_BLANK_CODE, "router"),
        (C1, 9, "heroku", ROUTER_BLANK_DESC, "router"),
        (C1, 10, "heroku", CROSS_MEM_ON_ROUTER, "router"),
        (C2, 0, "heroku", DYNO_ERROR, "web.14"),
        (C2, 1, "heroku", DYNO_ERROR_1DIGIT, "web.2"),
        (C2, 2, "heroku", DYNO_ERROR_ALPHA, "worker.1"),
        (C2, 3, "heroku", MEM_OK, "web.2"),
        (C2, 4, "heroku", MEM_NO_SOURCE, "web.3"),
        (C2, 5, "heroku", MEM_PARTIAL, "worker.7"),
        (C2, 6, "heroku", LOAD_OK, "web.4"),
        (C2, 7, "heroku", LOAD_NO_SOURCE, "web.5"),
        (C2, 8, "heroku", UNKNOWN_HEROKU, "web.6"),
        (C2, 9, "user", UNKNOWN_USER, "web.6"),
        # token override: role is a DIFFERENT t. token → sink keyed by OVR
        (C1, 11, OVR, ROUTER_OK, "router"),
        # t.-prefixed role same as conv_id (override is identity)
        (C2, 10, C2, LOAD_OK, "web.9"),
        # missing conv_id, role not t.-prefixed → token_missing
        (None, 0, "heroku", ROUTER_OK, "router"),
        ("", 1, "heroku", ROUTER_OK, "router"),
        # missing conv_id BUT t.-prefixed role rescues the token
        (None, 2, OVR, ROUTER_OK, "router"),
        # adversarial quoted spans (quote-aware extraction dispatch)
        (C3, 0, "heroku", RERR_QUOTED_TRAP, "router"),
        (C3, 1, "heroku", ROUTER_QUOTED_TRAP, "router"),
        (C3, 2, "heroku", ROUTER_BARE_IN_QUOTES, "router"),
        (C3, 3, "heroku", MEM_QUOTED_TRAP, "web.8"),
        # canonical-tail fast-path misses → per-key fallback equivalence.
        # (MEM_ODD_PREFIX, a suffix-matched key with a non-canonical prefix,
        # is pinned by test_mega_fallback_suffix_keys.)
        (C3, 4, "heroku", ROUTER_SHUFFLED, "router"),
        (C3, 5, "heroku", ROUTER_TRAILING, "router"),
        (C3, 7, "heroku", RERR_NOT_HEAD, "router"),
    ]
    return [(c, i, r, x, tl, T0 + 1000 * k) for k, (c, i, r, x, tl) in enumerate(rows)]
