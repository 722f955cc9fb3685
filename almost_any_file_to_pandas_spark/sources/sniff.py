"""Driver-side detection/inference: encoding (D1), delimiter (D2),
max column width (D3).

Reference behavior (/root/reference/main.py):
- D1 ``get_encoding`` (main.py:189-199): charset_normalizer over the
  *entire* file; detected encoding is informational only — never passed
  to ``open()`` (main.py:339). Deliberate deviation here: we detect on
  a bounded prefix (default 1 MiB — a full-file read of a 100 TB input
  on the driver is a non-starter) and we DO apply the result to the
  reader.
- D2 ``get_text_delimiter`` (main.py:201-236): sample 15 evenly spaced
  line positions, per sample strip candidate chars then
  ``csv.Sniffer().sniff``, majority vote; any failure → ``'\\t'``.
  Reference quirks *not* replicated (documented in SURVEY.md §7): the
  strip loop only actually removes ``','`` (main.py:221-222), and the
  file is re-read per sample (main.py:218-219). We implement the
  intended algorithm: one bounded read, k samples, both candidate
  chars stripped, stdlib ``Counter`` vote.
- D3 ``max_cols_in_rows`` (main.py:360-368): max split-width over all
  lines. At scale this must not be a driver pass: the helper here
  works on the bounded prefix used for sniffing, and the text reader
  uses it only when that prefix is the whole file; otherwise it takes
  the max with one distributed aggregate over the scan's own lines
  (``sources.text._table_width``).
"""

from __future__ import annotations

import csv
from collections import Counter
from pathlib import Path
from typing import Optional, Union

DEFAULT_PREFIX_BYTES = 1 << 20  # 1 MiB
NUMBER_OF_SAMPLES = 15  # main.py:206
FALLBACK_DELIMITER = "\t"  # main.py:226-229
_STRIP_CANDIDATES = (" ", ",")  # main.py:221 (intended semantics)
# Plausible single-char delimiters the sniffer may vote for. The
# reference passes no whitelist, letting csv.Sniffer's frequency
# analysis elect arbitrary characters (e.g. the letter 't' for
# 'alpha=1' lines). Deliberate deviation (SURVEY.md §7): constrain to
# real delimiters so degenerate lines fail the sniff and take the
# reference's own '\t' fallback instead of a garbage delimiter.
_SNIFF_DELIMITERS = "\t;|:"


def read_prefix(path: Union[str, Path], max_bytes: int = DEFAULT_PREFIX_BYTES) -> bytes:
    """Bounded prefix of the file's LOGICAL content.

    gzip/bz2 members (detected by magic bytes, not extension) are
    stream-decompressed up to ``max_bytes`` — the sniffers must see
    the text the distributed reader will see (Spark's text/CSV sources
    decompress via the Hadoop codec factory keyed on the ``.gz`` /
    ``.bz2`` extension). Decompression is streaming and bounded: a
    100 TB ``.gz`` costs the driver one ``max_bytes`` inflate, never a
    full-file pass. Undecodable/corrupt members fall back to the raw
    bytes so the error path stays the reference's log-and-continue.
    """
    with open(path, "rb") as handle:
        head = handle.read(4)
        handle.seek(0)
        try:
            if head[:2] == b"\x1f\x8b":
                import gzip

                with gzip.GzipFile(fileobj=handle) as gz:
                    return gz.read(max_bytes)
            if head[:3] == b"BZh":
                import bz2

                with bz2.BZ2File(handle) as bzf:
                    return bzf.read(max_bytes)
        except OSError:
            handle.seek(0)
        except Exception:
            handle.seek(0)
        return handle.read(max_bytes)


def detect_encoding(
    path: Union[str, Path], prefix: Optional[bytes] = None
) -> Optional[str]:
    """D1 — charset_normalizer over a bounded prefix (main.py:189-199).

    Returns the normalized encoding name or None when undetectable
    (reference returns None and logs, main.py:196-199).
    """
    data = prefix if prefix is not None else read_prefix(path)
    if not data:
        return None
    try:
        from charset_normalizer import from_bytes

        best = from_bytes(data).best()
        detected = best.encoding if best is not None else None
    except Exception:
        return None
    # NUL bytes never occur in legitimate single-byte text, but decode
    # as valid UTF-8 control chars — a BOM-less UTF-16/32 file can
    # fool the statistical detector into "utf_8"/"ascii". Reclassify
    # by NUL position parity (deviation from the reference, which
    # trusts chardet blindly and then never applies the encoding
    # anyway, main.py:189-199 + 339).
    if detected in (None, "ascii", "utf_8") and b"\x00" in data:
        n = len(data)
        nul_frac = data.count(0) / n
        if nul_frac >= 0.5:
            le = sum(1 for i in range(3, n, 4) if data[i] == 0)
            be = sum(1 for i in range(0, n, 4) if data[i] == 0)
            return "utf_32_le" if le >= be else "utf_32_be"
        odd = sum(1 for i in range(1, n, 2) if data[i] == 0)
        even = sum(1 for i in range(0, n, 2) if data[i] == 0)
        return "utf_16_le" if odd >= even else "utf_16_be"
    return detected


def _decode(prefix: bytes, encoding: Optional[str]) -> str:
    for enc in filter(None, (encoding, "utf-8", "latin-1")):
        try:
            return prefix.decode(enc)
        except (UnicodeDecodeError, LookupError):
            continue
    return prefix.decode("utf-8", errors="replace")


def sniff_delimiter(
    path: Union[str, Path],
    prefix: Optional[bytes] = None,
    encoding: Optional[str] = None,
    n_samples: int = NUMBER_OF_SAMPLES,
) -> str:
    """D2 — sample k line positions, csv.Sniffer each, majority vote
    (main.py:201-236, intended semantics).

    Any sniff failure contributes the fallback ``'\\t'`` to the vote;
    if *every* sample fails we return the fallback outright, matching
    the reference's fast-fail path (main.py:226-229).
    """
    data = prefix if prefix is not None else read_prefix(path)
    text = _decode(data, encoding)
    lines = [ln for ln in text.splitlines() if ln]
    if not lines:
        return FALLBACK_DELIMITER

    step = max(1, len(lines) // n_samples)
    votes: Counter[str] = Counter()
    sniffer = csv.Sniffer()
    for pos in range(0, len(lines), step):
        sample = lines[pos]
        for char in _STRIP_CANDIDATES:
            sample = sample.replace(char, "")
        # Reference sniffs the stripped line to bias away from spaces
        # and literal commas inside values (main.py:221-224). The
        # stripped sample can no longer contain ' ' or ','.
        try:
            dialect = sniffer.sniff(sample, delimiters=_SNIFF_DELIMITERS)
            votes[dialect.delimiter] += 1
        except csv.Error:
            # main.py:226-229 falls back immediately on first failure.
            return FALLBACK_DELIMITER
    if not votes:
        return FALLBACK_DELIMITER
    # Majority vote = mode (main.py:235); ties broken deterministically
    # by delimiter value for reproducibility.
    top = max(votes.items(), key=lambda kv: (kv[1], kv[0]))
    return top[0]


def max_columns_in_prefix(
    path: Union[str, Path],
    delimiter: str,
    prefix: Optional[bytes] = None,
    encoding: Optional[str] = None,
) -> int:
    """D3 on the bounded prefix — max split-width (main.py:360-368)."""
    data = prefix if prefix is not None else read_prefix(path)
    text = _decode(data, encoding)
    width = 0
    for line in text.splitlines():
        if line:
            width = max(width, len(line.split(delimiter)))
    return width

