"""Property-based tests (hypothesis) for the pure-Python kernels —
no SparkSession, so these run in milliseconds and explore the input
space the fixture-based tests can't."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from employee_analytics_etl_spark.operators import codecs as C
from tests.conftest import encode_bmp, encode_ppm

dims = st.tuples(st.integers(1, 40), st.integers(1, 40))


def _random_img(h, w, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


class TestCodecProperties:
    @settings(max_examples=50, deadline=None)
    @given(dims, st.integers(0, 2**31 - 1))
    def test_ppm_roundtrip(self, hw, seed):
        h, w = hw
        img = _random_img(h, w, seed)
        assert np.array_equal(C.decode_ppm(encode_ppm(img)), img)

    @settings(max_examples=50, deadline=None)
    @given(dims, st.integers(0, 2**31 - 1))
    def test_bmp_roundtrip_any_padding(self, hw, seed):
        # widths 1..40 sweep all four 4-byte row-padding cases
        h, w = hw
        img = _random_img(h, w, seed)
        assert np.array_equal(C.decode_bmp(encode_bmp(img)), img)

    @settings(max_examples=50, deadline=None)
    @given(dims, st.integers(0, 2**31 - 1))
    def test_png_roundtrip(self, hw, seed):
        # the PNG encoder (filter-0 rows, one zlib stream) must invert
        # exactly through the full five-filter decoder
        h, w = hw
        img = _random_img(h, w, seed)
        assert np.array_equal(C.decode_png(C.encode_png(img)), img)

    @settings(max_examples=30, deadline=None)
    @given(st.integers(1, 30), st.integers(1, 30), st.integers(0, 2**31 - 1))
    def test_ppm_comment_and_whitespace_tolerant(self, w, h, seed):
        img = _random_img(h, w, seed)
        hdr = b"P6 # inline\n# full line comment\n %d\t%d\n255\n" % (w, h)
        assert np.array_equal(C.decode_ppm(hdr + img.tobytes()), img)


class TestPiiProperties:
    """Pattern-level invariants checked with plain `re` (the same
    pattern strings the Spark/DuckDB engines compile)."""

    @settings(max_examples=100, deadline=None)
    @given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
    def test_redaction_idempotent(self, text):
        import re

        from employee_analytics_etl_spark.operators.text import (
            PII_PATTERNS,
            PII_TOKENS,
        )

        def redact(s):
            for kind, pat in PII_PATTERNS.items():
                s = re.sub(pat, PII_TOKENS[kind], s)
            return s

        once = redact(text)
        assert redact(once) == once  # placeholders never re-match

    @settings(max_examples=100, deadline=None)
    @given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
    def test_redacted_text_has_no_remaining_matches(self, text):
        import re

        from employee_analytics_etl_spark.operators.text import (
            PII_PATTERNS,
            PII_TOKENS,
        )

        s = text
        for kind, pat in PII_PATTERNS.items():
            s = re.sub(pat, PII_TOKENS[kind], s)
        for pat in PII_PATTERNS.values():
            assert not re.search(pat, s)


class TestWavProperties:
    @settings(max_examples=50, deadline=None)
    @given(
        st.integers(1, 2000),
        st.integers(1, 2),
        st.sampled_from([8000, 16000, 44100]),
        st.integers(0, 2**31 - 1),
    )
    def test_wav_roundtrip(self, n, ch, rate, seed):
        rng = np.random.default_rng(seed)
        s = rng.integers(-32768, 32767, size=(n, ch), dtype=np.int16)
        r, out = C.decode_wav(C.encode_wav(rate, s))
        assert r == rate
        assert np.array_equal(out, s)


class TestGifProperties:
    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 4),
        dims,
        st.integers(2, 8),
        st.integers(0, 2**31 - 1),
    )
    def test_gif_roundtrip(self, n, hw, k, seed):
        """Animated GIF encode→decode is pixel-exact for any frame
        count, geometry, and palette size — the LZW pair (variable
        width, CLEAR handling, KwKwK) must invert exactly."""
        h, w = hw
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(k, 3), dtype=np.uint8)
        # palette rows must be distinct or index mapping is ambiguous
        pal = np.unique(pal, axis=0)
        frames = pal[rng.integers(0, len(pal), size=(n, h, w))]
        back = C.decode_gif(C.encode_gif(frames, pal))
        assert np.array_equal(back, frames)

    def test_gif_lzw_dictionary_growth_and_reset(self):
        """A long high-entropy stream forces the code width through
        every size up to 12 bits and across the 4096-entry table
        reset; a solid-color stream hammers the KwKwK case."""
        rng = np.random.default_rng(0)
        pal256 = np.stack(
            [np.arange(256), np.arange(256)[::-1], np.arange(256) // 2],
            axis=1,
        ).astype(np.uint8)
        big = pal256[rng.integers(0, 256, size=(1, 220, 220))]
        assert np.array_equal(C.decode_gif(C.encode_gif(big, pal256)), big)
        pal = np.arange(24, dtype=np.uint8).reshape(8, 3)
        solid = np.tile(pal[5], (2, 80, 80, 1)).astype(np.uint8)
        assert np.array_equal(C.decode_gif(C.encode_gif(solid, pal)), solid)

    def test_gif_boundaries_raise(self):
        """The documented unsupported-feature boundaries fail loud."""
        import pytest

        pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
        frames = pal[np.zeros((1, 4, 4), dtype=np.int64)]
        g = bytearray(C.encode_gif(frames, pal))
        assert bytes(g[:6]) == b"GIF89a"
        with pytest.raises(ValueError, match="not a GIF"):
            C.decode_gif(b"NOTGIF" + bytes(g[6:]))
        # flip the interlace bit in the image descriptor
        idx = bytes(g).index(b"\x2c")
        g2 = bytearray(g)
        g2[idx + 9] |= 0x40
        with pytest.raises(ValueError, match="interlaced"):
            C.decode_gif(bytes(g2))
