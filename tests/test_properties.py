"""Property-based tests (hypothesis) for the pure vectorized kernels —
codec roundtrips and the CSR slice-gather primitives the BSP loop rests on."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pagerank_cuda_dynamic_spark.operators.multimodal import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
    resample_area_mean,
)
from pagerank_cuda_dynamic_spark.operators._stripe_pack import ragged_take as _ragged_take


@settings(max_examples=50, deadline=None)
@given(
    h=st.integers(1, 23),
    w=st.integers(1, 23),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_any_shape(h, w, seed):
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 20), w=st.integers(1, 20),
    oh=st.integers(1, 20), ow=st.integers(1, 20),
    val=st.integers(0, 255),
)
def test_resize_constant_stays_constant(h, w, oh, ow, val):
    img = np.full((h, w, 3), val, dtype=np.uint8)
    out = resample_area_mean(img, ow, oh)
    assert out.shape == (oh, ow, 3)
    assert (out == val).all()


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 2000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_any_length(n, rate, seed):
    samples = np.random.default_rng(seed).integers(-32768, 32767, n).astype(np.int16)
    out, got_rate = decode_wav(encode_wav(samples, rate=rate))
    assert got_rate == rate
    assert np.allclose(out * 32768.0, samples, atol=1.0)


@settings(max_examples=100, deadline=None)
@given(data=st.data())
def test_ragged_take_equals_naive(data):
    k = data.draw(st.integers(1, 40))
    starts = np.array(
        data.draw(st.lists(st.integers(0, 500), min_size=k, max_size=k)),
        dtype=np.int64,
    )
    lens = np.array(
        data.draw(st.lists(st.integers(1, 20), min_size=k, max_size=k)),
        dtype=np.int64,
    )
    got = _ragged_take(starts, lens)
    want = np.concatenate([np.arange(s, s + l) for s, l in zip(starts, lens)])
    assert np.array_equal(got, want)


def _live_rows(data, width: int) -> np.ndarray:
    """Rows of a stripe that receive edges, by a drawn empty-row pattern."""
    pattern = data.draw(st.sampled_from(["random", "leading", "middle", "trailing", "none"]))
    live = np.array(data.draw(st.lists(st.booleans(), min_size=width, max_size=width)))
    k = data.draw(st.integers(0, width - 1))
    if pattern == "leading":
        live[: k + 1] = False
    elif pattern == "trailing":
        live[k:] = False
    elif pattern == "middle":
        live[:] = True
        live[k: k + 1 + width // 3] = False
        live[0] = True
    elif pattern == "none":
        live[:] = False
    return np.flatnonzero(live)


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_stripe_kernel_equals_bincount(data):
    """The shared full-stripe gather, affected-set gather and hub partials
    equal a plain np.bincount over the stripe's edges: leading, middle and
    trailing empty rows and hub columns, fully empty stripes, int32 and
    int64 src, weights, raw, blob-row and stub records."""
    from pagerank_cuda_dynamic_spark.operators._stripe_pack import (
        _pack_stripe_raw,
        _raw_to_row,
        _stub_pack_row,
        affected_gather,
        full_gather,
        hub_partials,
        prepare_stripe,
        row_to_raw,
    )

    rng = np.random.default_rng(data.draw(st.integers(0, 2**31 - 1)))
    n = data.draw(st.integers(1, 40))
    lo = data.draw(st.integers(0, n - 1))
    hi = data.draw(st.integers(lo + 1, n))
    width = hi - lo
    weighted = data.draw(st.booleans())
    hubs = np.flatnonzero(rng.random(n) < data.draw(st.sampled_from([0.0, 0.2])))
    rows = _live_rows(data, width) + lo
    rows = rows[~np.isin(rows, hubs)]
    m = data.draw(st.integers(1, 60)) if rows.size else 0
    hub_live = hubs[_live_rows(data, hubs.size)] if hubs.size else hubs
    mh = data.draw(st.integers(1, 30)) if hub_live.size else 0
    dst = np.concatenate([rng.choice(rows, m), rng.choice(hub_live, mh)]).astype(np.int64)
    src = rng.integers(0, n, dst.size)
    w = rng.uniform(0.1, 2.0, dst.size) if weighted else None
    raw = _pack_stripe_raw(0, lo, hi, src, dst, w, hubs, weighted)
    if data.draw(st.booleans()):
        for key in ("src", "hsrc"):
            raw[key] = raw[key].astype(np.int64)
    record = data.draw(st.sampled_from(["raw", "row", "stub"] if dst.size == 0 else ["raw", "row"]))
    if record == "row":
        raw = row_to_raw(_raw_to_row(raw), hubs.size, weighted)
    elif record == "stub":
        raw = row_to_raw(_stub_pack_row(raw), hubs.size, weighted)
    stripe = prepare_stripe(raw, hubs)

    rdiv = rng.random(n)
    contrib = rdiv[src] * (w if weighted else 1.0)
    is_h = np.isin(dst, hubs)
    want = np.bincount(dst[~is_h] - lo, weights=contrib[~is_h], minlength=width)
    hcol = np.searchsorted(hubs, dst[is_h])
    want_h = np.bincount(hcol, weights=contrib[is_h], minlength=hubs.size)

    assert np.allclose(full_gather(stripe, rdiv), want, rtol=1e-12, atol=0)
    cols, part = hub_partials(stripe, rdiv)
    assert np.allclose(part, want_h[cols], rtol=1e-12, atol=0)
    if not weighted:  # the frontier-gated gathers run unweighted only
        A = np.flatnonzero(rng.random(width) < data.draw(st.floats(0, 1)))
        assert np.allclose(affected_gather(stripe, rdiv, A), want[A], rtol=1e-12, atol=0)
        needed = np.flatnonzero(rng.random(hubs.size) < 0.5)
        cols, part = hub_partials(stripe, rdiv, needed)
        assert np.allclose(part, want_h[cols], rtol=1e-12, atol=0)


@settings(max_examples=200, deadline=None)
@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=120
    ),
    inject=st.integers(0, 4),
)
def test_pii_scrub_idempotent(text, inject):
    """Applying the PII replacement chain twice equals once for arbitrary
    printable text with injected PII-ish fragments — placeholders must
    never re-match and replacements must never juxtapose new matches.
    Python `re` is the model; the patterns are shared verbatim with the
    Spark (Java) and DuckDB (RE2) implementations by design."""
    import re

    from pagerank_cuda_dynamic_spark.operators.text import PII_PATTERNS

    samples = ["a.b@c.de", "10.1.2.3", "123-45-6789", "+1 555 123 4567", ""]
    t = text + " " + samples[inject] + " " + text

    def scrub(s):
        for pat, repl in PII_PATTERNS:
            s = re.sub(pat, repl, s)
        return re.sub(r"\s+", " ", s).strip()

    once = scrub(t)
    assert scrub(once) == once
