"""Property-based tests (hypothesis) for the pure-Python kernels.

No Spark session needed — these cover the deterministic building
blocks whose exactness the engine's north-rule guarantees rest on:
the PNG/qpng codec (payload invariants), URL normalization twins
(seen-set exactness), and phash.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from scrapeulous_spark.codec.phash import phash64, phash64_batch
from scrapeulous_spark.codec.png import (
    QPNG_STEP,
    encode,
    png_decode,
    png_encode,
    psnr,
    quantize,
)
from scrapeulous_spark.functions import urls as U

# ------------------------------------------------------------------ strategies

dims = st.integers(min_value=1, max_value=24)
# phash needs at least one full 8x8 block (contract pinned below)
phash_dims = st.integers(min_value=8, max_value=24)


@st.composite
def rgb_arrays(draw, sizes=dims):
    h, w = draw(sizes), draw(sizes)
    data = draw(
        st.binary(min_size=h * w * 3, max_size=h * w * 3)
    )
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).copy()


url_paths = st.text(
    alphabet=st.sampled_from("abcdefghij0123456789-_/.#"), min_size=0, max_size=30
)
hosts = st.from_regex(r"[a-z][a-z0-9]{0,8}(\.[a-z]{2,5}){1,2}", fullmatch=True)


@st.composite
def abs_urls(draw):
    scheme = draw(st.sampled_from(["http", "https"]))
    return f"{scheme}://{draw(hosts)}/{draw(url_paths)}"


# ---------------------------------------------------------------------- codec


@settings(max_examples=30, deadline=None)
@given(rgb_arrays())
def test_png_roundtrip_exact_property(pix):
    assert np.array_equal(png_decode(png_encode(pix)), pix)


@settings(max_examples=30, deadline=None)
@given(rgb_arrays())
def test_qpng_error_bound_and_psnr(pix):
    dec = png_decode(encode(pix, "qpng"))
    err = np.abs(dec.astype(np.int16) - pix.astype(np.int16)).max()
    assert err <= QPNG_STEP // 2
    # worst case MSE = (step/2)^2 -> PSNR >= 20log10(255) - 10log10(4) ~ 42 dB
    assert psnr(pix, dec) >= 40.0


@settings(max_examples=30, deadline=None)
@given(rgb_arrays())
def test_quantize_idempotent(pix):
    q1 = quantize(pix)
    assert np.array_equal(quantize(q1), q1)


@settings(max_examples=20, deadline=None)
@given(rgb_arrays(), rgb_arrays())
def test_psnr_symmetric_and_identity(a, b):
    assert psnr(a, a) == float("inf")
    if a.shape == b.shape:
        assert abs(psnr(a, b) - psnr(b, a)) < 1e-9 or psnr(a, b) == psnr(b, a)


@settings(max_examples=20, deadline=None)
@given(rgb_arrays(sizes=phash_dims))
def test_phash_batch_agrees_with_scalar(pix):
    batch = phash64_batch([pix, pix])
    assert int(batch[0]) == int(batch[1]) == phash64(pix)
    assert -(1 << 63) <= phash64(pix) < (1 << 63)


def test_phash_rejects_sub_block_images():
    import pytest

    with pytest.raises(ValueError):
        phash64(np.zeros((7, 7, 3), dtype=np.uint8))


# ----------------------------------------------------------------------- urls


@settings(max_examples=50, deadline=None)
@given(abs_urls())
def test_normalize_idempotent_and_hashless(u):
    n = U.normalize(u)
    assert "#" not in n
    assert U.normalize(n) == n


@settings(max_examples=50, deadline=None)
@given(abs_urls())
def test_origin_plus_path_reassembles(u):
    # every abs_urls() sample has a '/' after the host
    assert U.origin_of(u) + U.path_of(u) == u
    assert U.host_of(U.origin_of(u)) == U.host_of(u)


@settings(max_examples=50, deadline=None)
@given(st.one_of(abs_urls(), url_paths), abs_urls())
def test_resolve_absolute_or_none_and_idempotent(link, seed):
    origin = U.origin_of(seed)
    r = U.resolve(link, origin)
    if r is not None:
        assert r.startswith("http://") or r.startswith("https://")
        # resolving an already-absolute URL is the identity
        assert U.resolve(r, origin) == r


@settings(max_examples=50, deadline=None)
@given(url_paths, abs_urls())
def test_resolve_root_relative_keeps_seed_host(path, seed):
    origin = U.origin_of(seed)
    r = U.resolve("/" + path, origin)
    assert r is not None
    assert U.host_of(r) == U.host_of(seed)


# ---------------------------------------------------- entity guard literals


@st.composite
def entity_bodies(draw):
    """Bodies stitched from match fragments, near-misses, and noise —
    biased so the regex families actually fire sometimes."""
    frags = st.sampled_from(
        [
            "a.b@x-y.com",
            '"quoted"@dom.io',
            '"a b"@x.com',
            '" lone quote',
            "+49 30 12 345 678 90",
            "+(49) 3012345678 90",
            "(555) 123-4567",
            "5551234567",
            "https://twitter.com/user_1",
            "http://sub.twitter.com/u/",
            "https://twitter.com/intent/tweet",
            "https://www.instagram.com/insta1",
            "https://instagram.com/p/ABC",
            "https://facebook.com/page.1/",
            "http://fb.com/x",
            "https://facebook.com/share.php?u=1",
            "https://github.com/dev-1/",
            # near-misses: literal absent or exclusion hits
            "twitter github instagram.example facebook-page",
            "mail@ @corp 49-30 (555 intent share.php",
            "user at example dot com",
        ]
    )
    sep = st.sampled_from([" ", "  ", " lorem ", "\n", " x9 "])
    parts = draw(st.lists(st.one_of(frags, sep), min_size=0, max_size=12))
    return "".join(parts)


@settings(max_examples=200, deadline=None)
@given(entity_bodies())
def test_guard_literals_sound(body):
    """REQUIRED_LITERALS is a sound prefilter: a body containing none of
    a pattern-pass's literals has ZERO matches for that pass, and every
    match string itself contains one of the literals (the mandatory-
    literal-atom argument extract.py's pruning rests on)."""
    import re

    from scrapeulous_spark.functions.entities import FAMILIES, REQUIRED_LITERALS

    for kind, pats in FAMILIES.items():
        for pat, lits in zip(pats, REQUIRED_LITERALS[kind]):
            if lits is None:
                continue
            matches = [m.group(0) for m in re.finditer(pat, body)]
            if not any(l in body for l in lits):
                assert matches == [], (kind, pat, matches)
            for m in matches:
                assert any(l in m for l in lits), (kind, m)


@settings(max_examples=200, deadline=None)
@given(entity_bodies())
def test_email_possessive_twin_equiv(body):
    """EMAIL_POSSESSIVE must produce the exact EMAIL match sequence
    (the possessive local part can never lose a match: its classes
    exclude '.' and '@', so giveback re-tries '@' against chars that
    are never '@')."""
    import re

    from scrapeulous_spark.functions.entities import EMAIL, EMAIL_POSSESSIVE

    a = [m.group(0) for m in re.finditer(EMAIL, body)]
    b = [m.group(0) for m in re.finditer(EMAIL_POSSESSIVE, body)]
    assert a == b


@settings(max_examples=200, deadline=None)
@given(entity_bodies())
def test_email_token_scan_equiv(body):
    """On quote-free bodies, scanning '@'-containing whitespace tokens
    reproduces the full-body EMAIL scan exactly (no pattern atom outside
    the '\"...\"' branch can consume whitespace, so matches never span
    tokens). This is the equivalence extract.py::_email_scan's fast
    path rests on."""
    import re

    from scrapeulous_spark.functions.entities import EMAIL

    if '"' in body:
        return
    full = [m.group(0) for m in re.finditer(EMAIL, body)]
    tokenized = [
        m.group(0)
        for t in re.split(r"\s+", body)
        if "@" in t and "." in t
        for m in re.finditer(EMAIL, t)
    ]
    assert full == tokenized


@settings(max_examples=200, deadline=None)
@given(entity_bodies())
def test_url_family_token_scan_equiv(body):
    """For the TOKEN_SCANNABLE families (facebook/instagram/github —
    no pattern atom in any branch can consume whitespace), scanning
    only the literal-bearing whitespace tokens reproduces the full-body
    scan exactly. This is the equivalence extract.py::_token_scan's
    routing for these families rests on. (twitter is deliberately NOT
    in the set: its `(.*\\.)?` consumes spaces, so e.g.
    'https://a b.twitter.com/u' matches across a token boundary.)"""
    import re

    from scrapeulous_spark.functions.entities import FAMILIES, REQUIRED_LITERALS

    # Families whose every pattern atom — in EVERY alternation branch —
    # matches no whitespace char under Java semantics, so a match never
    # spans a \s+ token boundary. A rejected optimization (routing them
    # through extract._token_scan measured SLOWER; only email keeps the
    # token fast path) — the constant lives here as the executable pin
    # of the equivalence, not in the production module.
    TOKEN_SCANNABLE = ("facebook", "instagram", "github")

    for kind in TOKEN_SCANNABLE:
        (pat,) = FAMILIES[kind]
        (lits,) = REQUIRED_LITERALS[kind]
        full = [m.group(0) for m in re.finditer(pat, body)]
        tokenized = [
            m.group(0)
            for t in re.split(r"\s+", body)
            if any(l in t for l in lits)
            for m in re.finditer(pat, t)
        ]
        assert full == tokenized, (kind, full, tokenized)


def test_twitter_not_token_scannable():
    """Regression pin for why twitter stays a full-body scan: Java/JS
    `.` matches ' ', so `(.*\\.)?` lets a match span whitespace."""
    import re

    from scrapeulous_spark.functions.entities import FAMILIES

    (pat,) = FAMILIES["twitter"]
    body = "see https://a b.twitter.com/user_x ok"
    full = [m.group(0) for m in re.finditer(pat, body)]
    assert full == ["https://a b.twitter.com/user_x"]
    tokenized = [
        m.group(0)
        for t in re.split(r"\s+", body)
        if "twitter.com" in t
        for m in re.finditer(pat, t)
    ]
    assert tokenized != full  # the token scan would LOSE this match


# ---------------------------------------------------------------- canonicalize

_param = st.text(
    alphabet="abcdefguz0123456789_=", min_size=1, max_size=8
).filter(lambda p: p != "")
_params = st.lists(
    st.one_of(_param, st.sampled_from(["utm_source=x", "utm_c=1", "gclid=g", "fbclid=f"])),
    max_size=6,
)
_urls = st.builds(
    lambda host, path, params, frag: (
        f"http://{host}.example.com/{path}"
        + ("?" + "&".join(params) if params else "")
        + (f"#{frag}" if frag else "")
    ),
    st.text(alphabet="hij01", min_size=1, max_size=4),
    st.text(alphabet="pq59", max_size=6),
    _params,
    st.text(alphabet="sfr2", max_size=4),
)


@settings(max_examples=200, deadline=None)
@given(_urls)
def test_canonicalize_idempotent_and_clean(u):
    from scrapeulous_spark.functions.urls import canonicalize

    c = canonicalize(u)
    assert canonicalize(c) == c  # fixed point
    assert "#" not in c
    assert "utm_" not in c and "gclid=" not in c and "fbclid=" not in c
    if "?" in c:
        ps = c.split("?", 1)[1].split("&")
        assert ps == sorted(ps) and all(ps)


@settings(max_examples=100, deadline=None)
@given(_params.filter(lambda ps: len(ps) > 1))
def test_canonicalize_param_order_invariant(ps):
    from scrapeulous_spark.functions.urls import canonicalize

    base = "http://h.example.com/p"
    a = canonicalize(base + "?" + "&".join(ps))
    b = canonicalize(base + "?" + "&".join(reversed(ps)))
    assert a == b


def test_resolve_col_matches_python_on_edge_links(spark):
    """Column twin == Python twin on the awkward absolute forms: bare
    'http://' (nothing after the scheme) must be unparseable in BOTH,
    'http:///x' (empty host, non-empty rest) must pass in BOTH."""
    from pyspark.sql import functions as F

    from scrapeulous_spark.functions import urls as U

    links = [
        "http://", "https://", "http:///x", "http://h.example.com/p",
        "/rel", "", "  ", "mailto:x@example.com", "//proto-relative",
        "javascript:void(0)", "https://h/x#frag",
    ]
    origin = "http://seed.example.com"
    df = spark.createDataFrame([(l,) for l in links], ["link"])
    got = {
        r["link"]: r["resolved"]
        for r in df.select(
            "link",
            U.resolve_col(F.col("link"), F.lit(origin)).alias("resolved"),
        ).collect()
    }
    for l in links:
        assert got[l] == U.resolve(l, origin), l


# ------------------------------------------------- PPJoin prefix soundness


@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=15),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_ppjoin_prefix_filter_has_no_false_negatives(doc_sets):
    """The prefix-filter GUARANTEE behind dedup_ppjoin_prefix
    (operators/pipeline.py): with tokens ordered by ascending global
    frequency and prefix length |s| - ceil(tau*|s|) + 1, EVERY pair
    with Jaccard >= tau shares at least one prefix token. Both engine
    twins share the same formula, so a cross-engine check cannot catch
    an off-by-one in it — this pure-Python property test can."""
    import math
    from collections import Counter

    tau = 0.6
    freq = Counter(t for s in doc_sets for t in s)
    prefixes = []
    for s in doc_sets:
        ordered = sorted(s, key=lambda t: (freq[t], t))
        plen = len(s) - math.ceil(tau * len(s)) + 1
        prefixes.append(set(ordered[:plen]))
    for i in range(len(doc_sets)):
        for j in range(i + 1, len(doc_sets)):
            a, b = doc_sets[i], doc_sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= tau:
                assert prefixes[i] & prefixes[j], (
                    f"J={jac:.2f} pair with disjoint prefixes: {a} {b}"
                )


@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=15),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=300, deadline=None)
def test_ppjoin_role_prefixes_and_positional_filter_exact(doc_sets):
    """Round-4 candidate rule soundness: dedup_ppjoin_prefix now prunes
    with THREE extra filters beyond the symmetric prefix — role
    prefixes (index side = the (size, id)-smaller doc keeps only
    |s| - ceil(2tau/(1+tau)|s|) + 1 tokens), the integer length filter,
    and the per-row positional filter against
    alpha = ceil(tau/(1+tau)(|A|+|B|)). Exact recall demands that for
    EVERY pair with J >= tau at least one shared token passes the whole
    conjunction exactly as the Spark predicate computes it (integer
    arithmetic replicated verbatim; tau = 3/5). The cross-engine
    compare cannot catch a pruning bug here — the DuckDB twin does not
    implement these filters — so this pure-Python replica is the
    gate."""
    from collections import Counter

    freq = Counter(t for s in doc_sets for t in s)
    docs = []  # (size, idx, ordered tokens with 1-based positions)
    for idx, s in enumerate(doc_sets):
        ordered = sorted(s, key=lambda t: (freq[t], t))
        docs.append((len(s), idx, {t: p + 1 for p, t in enumerate(ordered)}))

    def survives(small, big):
        sza, _, pos_a = small
        szb, _, pos_b = big
        if sza * 1000 < szb * 600:  # length filter
            return False
        idx_len = sza - -(-(3 * sza) // 4) + 1   # |s| - ceil(3s/4) + 1
        probe_len = szb - -(-(3 * szb) // 5) + 1  # |s| - ceil(3s/5) + 1
        alpha = (3 * (sza + szb) + 7) // 8        # ceil(3(a+b)/8)
        for t, pa in pos_a.items():
            if pa > idx_len:
                continue
            pb = pos_b.get(t)
            if pb is None or pb > probe_len:
                continue
            if 1 + min(pa - 1, pb - 1) + min(sza - pa, szb - pb) >= alpha:
                return True
        return False

    for i in range(len(doc_sets)):
        for j in range(i + 1, len(doc_sets)):
            a, b = doc_sets[i], doc_sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= 0.6:
                small, big = sorted([docs[i], docs[j]])[:2]
                assert survives(small, big), (
                    f"J={jac:.2f} pair pruned by the candidate rule: {a} {b}"
                )


# ----------------------------------------------------------------- WARC framing


def _warc_render(pairs):
    """Pure-Python mirror of the sink_warc_shards record rules
    (catalog_engine.py): LF line endings, Content-Length as CHARACTER
    count of the payload (the repo-internal framing contract both
    twins and the src_warc_records reader share — the deliberate
    divergence from spec CRLF/octets is documented on the sink)."""
    out = []
    for url, body in pairs:
        out.append(
            "WARC/1.0\n"
            "WARC-Type: response\n"
            f"WARC-Target-URI: {url}\n"
            "Content-Type: application/http; msgtype=response\n"
            f"Content-Length: {len(body)}\n\n{body}\n\n"
        )
    return "".join(out)


def _warc_parse(text):
    """Pure-Python mirror of the src_warc_records framing: split on
    the record header, first blank line ends the header, slice the
    payload by the DECLARED Content-Length."""
    recs = []
    for chunk in text.split("WARC/1.0\n"):
        if chunk == "":
            continue
        hdr, _, rest = chunk.partition("\n\n")
        fields = dict(
            line.split(": ", 1) for line in hdr.split("\n") if ": " in line
        )
        n = int(fields["Content-Length"])
        recs.append(
            (fields["WARC-Target-URI"], rest[:n], rest[n : n + 2] == "\n\n")
        )
    return recs


# bodies may contain header-lookalikes ('Content-Length: 7', '\n\n'),
# non-ASCII, and blank lines — the declared-length slicing makes all
# of those safe. The one genuine constraint of split-based framing is
# that a payload must not contain the record delimiter itself
# ('WARC/1.0\n'); a real archive writer guarantees that by escaping
# or by length-driven scanning, and the corpus generator never emits
# it, so the property pins the contract exactly as shipped.
warc_bodies = st.text(max_size=120).filter(lambda b: "WARC/1.0" not in b)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.from_regex(r"https?://[a-z]{1,8}\.[a-z]{2,3}/[a-z0-9]{0,12}",
                          fullmatch=True),
            warc_bodies,
        ),
        max_size=8,
    )
)
def test_warc_framing_roundtrip_property(pairs):
    parsed = _warc_parse(_warc_render(pairs))
    assert [(u, b) for u, b, _ in parsed] == [(u, b) for u, b in pairs]
    assert all(ok for _, _, ok in parsed)


@settings(max_examples=30, deadline=None)
@given(warc_bodies)
def test_warc_payload_hostile_contents_safe(body):
    """Any single body — embedded 'Content-Length: 5' lines, '\n\n',
    unicode — frames and parses back exactly, because slicing is
    driven by the declared length, never by content scanning."""
    hostile = body + "\nContent-Length: 5\n\n trailing"
    pairs = [("https://h.ex/a", hostile), ("https://h.ex/b", "after")]
    parsed = _warc_parse(_warc_render(pairs))
    assert [(u, b) for u, b, _ in parsed] == pairs
