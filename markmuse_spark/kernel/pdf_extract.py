"""PDF layout-extraction kernel: raw PDF bytes -> per-page Markdown.

From-scratch replacement for the reference's OCR stage over PDF payloads
(``/root/reference/markmuse.py:266-299``): a byte-stream tokenizer over
uncompressed content streams collects absolutely-positioned text runs
``(font_size, x, y, text)``, then box-geometry heuristics reconstruct
reading order and structure:

* **column detection** — x-coordinates clustered; clusters separated by
  >60pt are separate columns, read left to right
* **line/block grouping** — within a column, runs sorted by descending y;
  a vertical gap >20pt or a font-size change starts a new block
* **heading inference** — per-page font-size histogram; the modal size is
  body text, larger sizes map to heading levels by size ratio
  (>=2.2x -> h1, >=1.7x -> h2, >=1.35x -> h3)
* **list detection** — blocks whose lines all carry ``- `` / ``1. ``
  markers are kept line-per-item; other blocks re-join wrapped lines

Dialect (matching :mod:`markmuse_spark.sources.pdf_writer`, SURVEY.md §7
risk 2, extended round 2 toward the real-corpus baseline): plain AND
FlateDecode-compressed content streams (``/Length``-delimited, zlib),
``Tf``/``Tm`` positioning, both ``Tj`` literal strings and kerned ``TJ``
arrays (inter-word space recovered from adjustments <= -150 milli-em),
UTF-8 bytes inside literal strings, UTF-8 and BOM-prefixed UTF-16BE hex
strings (the spec 7.9.2.2 Unicode text-string form — corpus v4).

Corpus v5 makes the extractor OBJECT-GRAPH AWARE: content streams are
selected through page objects' ``/Contents`` refs in ``/Kids`` order
(non-content streams — XMP metadata, ToUnicode CMaps — never become
phantom pages; the pre-v5 every-stream-is-a-page scan survives as the
fallback for truncated/damaged files), and Type0 ``/Identity-H`` SUBSET
fonts are supported: 2-byte CIDs assigned by charset index, resolved
through the font's ``/ToUnicode`` CMap (``bfchar`` + ``bfrange``) —
the dominant text form in wild PDFs.

Corpus v6 closes the CROSS-REFERENCE-STREAM gap (PDF 1.5+, the
modern-default file form): the trailer fields live in a ``/Type /XRef``
stream object's dict, resolved by :func:`_trailer_root` (last
``startxref`` wins — each incremental update appends its own, so no
/Prev chaining is needed for /Root), and the binary entry table decodes
per spec 7.5.8 (:func:`_parse_xref_stream`); the damaged-file fallback
never mints a phantom page from it.  Corpus v7 closes the OBJECT-STREAM
gap: ``/Type /ObjStm`` streams (spec 7.5.7 — how modern producers pack
the whole page tree, so no catalog/pages/page object exists top-level)
are unpacked by :func:`_parse_objstm` and merged into the object graph
by file position, so last-definition-wins holds across top-level and
packed definitions alike.  Corpus v8 exercises the last dialect class
END-TO-END: CID fonts WITHOUT a ToUnicode CMap are glyph-only (their
code space is the embedded font program's private glyph ids; nothing to
extract without font-embedding analysis), and every string they scope
is SUPPRESSED (:data:`GLYPH_ONLY`) — never mis-decoded into UTF-8 byte
salad or U+FFFD floods that would poison a training corpus.

Corpus v10 closes three wild-PDF classes beyond Flate: the full
pre-Flate FILTER set as arbitrary ``/Filter`` chains (LZWDecode,
RunLengthDecode, ASCIIHexDecode, ASCII85Decode —
:func:`_apply_filters`; image codecs like DCTDecode stay out of scope
and fail loudly), INLINE IMAGES (``BI..ID..EI``, spec 8.9.7) whose
opaque sample bytes are stripped before text tokenization
(:func:`_strip_inline_images` — binary data that happens to parse as
``(...)Tj`` must never mint phantom text), and RC4-ENCRYPTED files
(Standard security handler V1-2/R2-3, empty user password — the
dominant wild encrypted form): :func:`_decrypt_payload` derives the
file key per spec algorithm 2, verifies ``/U``, and RC4s every stream
body in place (AESV2/AESV3 decrypt through :mod:`kernel.aes`); real
passwords and unknown handlers fail LOUDLY with a structured error,
never byte salad.
"""

from __future__ import annotations

import bisect
import re
import zlib
from collections import Counter
from typing import Any, Sequence

from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4 as _OsslARC4
from cryptography.hazmat.primitives.ciphers import Cipher as _OsslCipher

from markmuse_spark.kernel import glyphlist

# a stream-bearing object: simple (non-nested) dict immediately followed by
# the stream keyword — /Length delimits the exact payload so compressed
# bytes that happen to contain "endstream" can't truncate the slice
# TWO levels of dict nesting in stream headers: real writers put
# sub-dicts there (``/DecodeParms << /Predictor 12 ... >>`` on xref
# streams — corpus v9; ``/Resources << /Font << ... >> >>`` on Form
# XObject streams — corpus v12, which needs the second level) and HEX
# STRINGS (``/ID [<f3..> <f3..>]`` in xref stream dicts — every real
# producer's trailer fields, corpus v11; a ``<`` that is not a sub-dict
# must not abort the dict match or the xref stream loses its /Type in
# the scan).  Every quantifier is POSSESSIVE (Python 3.11 ``*+``/``++``)
# so nested-quantifier backtracking cannot blow up on adversarial
# ``<<<<...`` soup — the fuzz corpus feeds exactly that.
_STREAM_HDR = re.compile(
    rb"<<((?:[^<>]++|<<(?:[^<>]++|<<[^<>]*+>>|<[^<>]*+>)*+>>|<[^<>]*+>)*+)"
    rb">>\s*stream\r?\n"
)
_LENGTH = re.compile(rb"/Length\s+(\d+)")
# /Filter value: one name or an array of names (decode order = array
# order, spec 7.4.1); abbreviated names are the inline-image aliases the
# spec also permits in stream dicts
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_EARLYCHANGE_RE = re.compile(rb"/EarlyChange\s+(\d+)")
_ENDSTREAM = re.compile(rb"\r?\n?endstream")
# re.S: the `\\.` escape alternatives must match backslash-NEWLINE too —
# a literal string legally split across lines with a line continuation
# (spec 7.3.4.2) would otherwise fail the whole operand match and
# silently drop the run, instead of joining through _unescape_literal
# round-8 second pass: possessive quantifiers (PEP 3.11 re).  Every starred
# element here is disjoint from the pattern that must follow it (a literal
# string's pieces can never start with the closing ``)``, hex bodies can
# never contain ``>``, digits never continue into ``\s``), so no successful
# backtrack exists for possessiveness to lose — equivalence pinned by
# test_op_possessive_parity (corpus + adversarial fuzz).  Measured: findall
# 0.92 -> 0.82 s over the bench corpus's 11.8k content streams.
_OP = re.compile(
    r"/(F\d++)\s++(\d++(?:\.\d++)?)\s++Tf"
    r"|1 0 0 1\s++(-?\d++(?:\.\d++)?)\s++(-?\d++(?:\.\d++)?)\s++Tm"
    r"|\(((?:[^()\\]|\\.)*+)\)\s*+Tj"
    r"|<([0-9A-Fa-f\s]*+)>\s*+Tj"
    r"|\[((?:\((?:[^()\\]|\\.)*+\)|<[0-9A-Fa-f\s]*+>|[^\[\]()<>])*+)\]\s*+TJ",
    re.S,
)
_TJ_PIECE = re.compile(
    r"\(((?:[^()\\]|\\.)*+)\)|<([0-9A-Fa-f\s]*+)>|(-?\d++(?:\.\d++)?)", re.S
)
# literal-string escapes, spec 7.3.4.2: octal (1-3 digits), the named
# control escapes, escaped delimiters, line continuations (backslash-EOL
# joins), and backslash-before-anything-else dropping the backslash
_ESCAPE_RE = re.compile(r"\\([0-7]{1,3}|\r\n|[\n\r]|.)", re.S)
_ESC_CTRL = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f"}
_LIST_LINE = re.compile(r"^(?:- |\d+\. )")

_COLUMN_GAP = 60.0
_LINE_GAP = 20.0
# a TJ adjustment at/below this (milli-em, negative = widen) is a word space
_TJ_SPACE_ADJ = -150.0


def _esc_one(m: "re.Match[str]") -> str:
    e = m.group(1)
    if e[0] in "01234567":
        return chr(int(e, 8) & 0xFF)  # spec: high overflow wraps mod 256
    if e in ("\n", "\r", "\r\n"):
        return ""  # line continuation: backslash-EOL emits nothing
    return _ESC_CTRL.get(e, e)


def _unescape_literal(raw: str) -> str:
    """Full spec 7.3.4.2 literal-string unescape (corpus v13 adds octal
    escapes — WinAnsi-era producers emit high bytes as ``\\2xx``)."""
    return _ESCAPE_RE.sub(_esc_one, raw) if "\\" in raw else raw


def _decode_pdf_string(raw: str) -> str:
    """Literal-string unescape, then recover UTF-8 from the latin-1 view."""
    s = _unescape_literal(raw)
    if s.isascii():  # fast path: ASCII round-trips identically
        return s
    try:
        return s.encode("latin-1").decode("utf-8")
    except (UnicodeDecodeError, UnicodeEncodeError):
        return s


def _hex_to_bytes(raw: str) -> bytes | None:
    """Hex-string operand -> bytes: whitespace-tolerant, odd length
    padded with 0 (spec 7.3.4.3); None on non-hex junk.  The ONE place
    those rules live — _decode_hex_string, _decode_cids and
    _ByteEncoding.decode_hex all normalize through here."""
    try:
        # fast path: bytes.fromhex itself skips ASCII whitespace (and
        # rejects junk), so the normalize-join is only needed when the
        # digit count is odd — the rare pad case below
        return bytes.fromhex(raw)
    except ValueError:
        pass
    h = "".join(raw.split())
    if len(h) % 2:
        h += "0"
    try:
        return bytes.fromhex(h)
    except ValueError:
        return None


def _text_from_string_bytes(b: bytes) -> str:
    """PDF text-string bytes -> text (spec 7.9.2.2): a U+FEFF BOM marks
    UTF-16BE; otherwise UTF-8 with latin-1 as the never-fails
    fallback."""
    if b.startswith(b"\xfe\xff"):
        try:
            return b[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            pass  # malformed UTF-16 body: fall through to the byte paths
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _decode_hex_string(raw: str) -> str:
    """Hex string ``<48656C6C6F>`` (spec 7.3.4.3), decoded through the
    shared text-string rules."""
    b = _hex_to_bytes(raw)
    return "" if b is None else _text_from_string_bytes(b)


class _CidTable(dict):
    """CID -> text table; unmapped CIDs render as U+FFFD — a visible
    signal of a mapping gap, never silent truncation.  A dict subclass so
    ``str.translate`` (the C-speed decode path) resolves missing keys
    through ``__missing__`` instead of passing them through unchanged."""

    def __missing__(self, key: int) -> str:
        return "\ufffd"


class _ByteEncoding(dict):
    """code -> text table for a SIMPLE font with a declared ``/Encoding``
    (corpus v13): ``/BaseEncoding /WinAnsiEncoding|/MacRomanEncoding``
    seeded from the matching byte codec, overlaid by the ``/Differences``
    array's glyph-name assignments (spec 9.6.6.1, names resolved through
    the Adobe Glyph List subset in :mod:`glyphlist`).  String operands
    under such a font are BYTE CODES, not UTF-8 — each byte maps through
    this table.  Unmapped codes render U+FFFD via ``__missing__`` (the
    same visible-gap contract as :class:`_CidTable`); a Differences
    entry naming an unresolvable glyph maps to '' (suppressed — there is
    nothing to extract, and U+FFFD is reserved for mapped-then-broken)."""

    def __missing__(self, key: int) -> str:
        return "�"

    def decode_literal(self, raw: str) -> str:
        return _unescape_literal(raw).translate(self)

    def decode_hex(self, raw: str) -> str:
        b = _hex_to_bytes(raw)
        return "" if b is None else b.decode("latin-1").translate(self)


_SURR_HI = bytes(range(0xD8, 0xE0))  # UTF-16 surrogate-range high bytes


def _decode_cids(raw: str, cmap: dict[int, str]) -> str:
    """Hex string under a Type0/Identity-H SUBSET font: 2-byte CIDs in
    the font's private code space, meaningful only through its ToUnicode
    CMap (corpus v5).

    Fast path: the CID sequence is decoded as UTF-16BE (every 2-byte
    unit becomes ``chr(cid)``) and mapped in one C-speed
    ``str.translate`` call — valid only when no unit sits in the
    surrogate range (a chance surrogate PAIR would merge into one astral
    char and corrupt the keys), which the ``bytes.translate`` length
    check rules out without a Python-level loop."""
    if not isinstance(cmap, _CidTable):  # fast/slow paths must agree on
        cmap = _CidTable(cmap)  # unmapped CIDs regardless of caller type
    b = _hex_to_bytes(raw)
    if b is None:
        return ""
    b = b[: len(b) - (len(b) % 2)]
    if not b:
        return ""
    hi = b[0::2]
    if len(hi.translate(None, _SURR_HI)) == len(hi):
        try:
            return b.decode("utf-16-be").translate(cmap)
        except UnicodeDecodeError:  # pragma: no cover - guarded above
            pass
    return "".join(
        cmap.get(int.from_bytes(b[i : i + 2], "big"), "\ufffd")
        for i in range(0, len(b), 2)
    )


def _cid_hex_decoder(cmap: dict[int, str]):
    """Hex-operand decoder bound to one CID table, cached on the table
    itself so repeated ``Tf`` selections of the same font reuse one
    closure (a page's content stream re-selects its fonts constantly)."""
    if not isinstance(cmap, _CidTable):  # normalize exactly as _decode_cids
        cmap = _CidTable(cmap)
    dec = getattr(cmap, "_hex_dec", None)
    if dec is None:
        def dec(raw: str, _c=cmap) -> str:
            return _decode_cids(raw, _c)
        cmap._hex_dec = dec
    return dec


def _tj_text(body: str, dec_lit=_decode_pdf_string, dec_hex=_decode_hex_string) -> str:
    """Concatenate a TJ array's string pieces, re-inserting word spaces
    for adjustments <= -150 (the kerned-text word gap); ``dec_lit`` /
    ``dec_hex`` are the current font's literal/hex decoders, selected
    ONCE per ``Tf`` by :func:`_parse_runs` (round-8: the per-piece
    ``isinstance``/None chain cost real time at ~10 pieces per TJ array).

    ``findall`` (tuples) instead of ``finditer`` (match objects): the TJ
    path runs once per kerned line — measurably cheaper.  An empty string
    piece ``()`` yields ``('', '')`` and falls through to the string
    branch, appending '' (harmless and order-preserving)."""
    parts: list[str] = []
    for s, hx, num in _TJ_PIECE.findall(body):
        if num:
            if float(num) <= _TJ_SPACE_ADJ:
                parts.append(" ")
        elif hx:
            parts.append(dec_hex(hx))
        else:
            parts.append(dec_lit(s))
    return "".join(parts)


def _parse_runs(
    stream: str, cmaps: dict[str, dict[int, str]] | None = None
) -> list[tuple[float, float, float, str]]:
    """Text runs from one page's content.  ``cmaps`` maps the page's font
    resource names (``F1``...) to their ToUnicode CID->text tables; a
    ``Tf`` selecting a CMap-bearing font switches hex-string decoding to
    the CID path until the next ``Tf`` (corpus v5 subset fonts).  A font
    mapped to :data:`GLYPH_ONLY` (Type0 with no usable ToUnicode —
    corpus v8) suppresses EVERY string operand it scopes: its operands
    are private glyph ids in any string form, so literal strings are as
    unreadable as hex ones."""
    runs: list[tuple[float, float, float, str]] = []
    size = 10.0
    x = y = 0.0
    cmap: dict[int, str] | None = None
    # per-font decoders, re-selected only on Tf (round-8): the old form
    # re-ran the isinstance/None chain on EVERY string operand and TJ piece
    dec_lit = _decode_pdf_string
    dec_hex = _decode_hex_string
    if "BI" in stream:  # inline-image spans are opaque bytes, never text
        stream = _strip_inline_images(stream)
    # findall tuples (round-8; same measured call-shape win as _TJ_PIECE):
    # exactly one alternative participates per op, the rest are ''.
    # Truthiness dispatch is exact because the groups that CAN match empty
    # (lit/hex/TJ bodies) all decode '' to '' — no run either way.
    for fname, fsize, tx, ty, lit, hx, tj in _OP.findall(stream):
        if tx:
            x = float(tx)
            y = float(ty)
            continue
        if fname:
            size = float(fsize)
            cmap = cmaps.get(fname) if cmaps else None
            if cmap is None:
                dec_lit = _decode_pdf_string
                dec_hex = _decode_hex_string
            elif isinstance(cmap, _ByteEncoding):
                dec_lit = cmap.decode_literal
                dec_hex = cmap.decode_hex
            elif cmap is not GLYPH_ONLY:  # ToUnicode CID table
                dec_lit = _decode_pdf_string
                dec_hex = _cid_hex_decoder(cmap)
            continue
        if cmap is GLYPH_ONLY:
            continue  # unreadable code space: no run, never byte salad
        if hx:
            text = dec_hex(hx)
        elif tj:
            text = _tj_text(tj, dec_lit, dec_hex)
        else:
            text = dec_lit(lit)
        if text:
            runs.append((size, x, y, text))
    return runs


def _scan_streams(payload: bytes) -> list[tuple[int, bytes, bytes, tuple[int, int]]]:
    """Every stream in the file: ``(header_start, head_dict_bytes,
    raw_data, body_span)`` in file order.

    ``/Length`` (when present and consistent) delimits the payload slice —
    required for Flate streams whose compressed bytes may contain the
    ``endstream`` keyword; otherwise fall back to scanning for it.
    The scan position advances past each consumed stream's endstream so
    stream BODIES are never rescanned: compressed bytes can contain
    ``<<...>>stream`` by chance, and a whole-payload finditer would mint
    a phantom stream from it.
    """
    out: list[tuple[int, bytes, bytes, tuple[int, int]]] = []
    pos = 0
    while True:
        m = _STREAM_HDR.search(payload, pos)
        if m is None:
            break
        head, start = m.group(1), m.end()
        lm = _LENGTH.search(head)
        data: bytes | None = None
        end = start
        pos = m.end()
        if lm:
            end = start + int(lm.group(1))
            em = _ENDSTREAM.match(payload, end)
            if em:
                data = payload[start:end]
                pos = em.end()
        if data is None:  # no/odd /Length: scan (uncompressed dialect only)
            idx = payload.find(b"endstream", start)
            if idx < 0:
                continue
            data = payload[start:idx].rstrip(b"\r\n")
            end = idx
            pos = idx + len(b"endstream")
        out.append((m.start(), head, data, (start, end)))
    return out


_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
# round-8: full-payload object-header scans via _OBJ_RE cost ~16 ns/byte —
# the \d+ prefix makes the engine attempt at every digit and every `N 0 R`
# indirect reference is a near-miss that backtracks through `\s+0\s+`.
# _iter_obj_headers scans for the LITERAL ``obj`` instead (memchr-speed,
# few candidates) and validates the `(\d+)\s+0\s+` tail backwards; the
# (?<!end) lookbehind only prunes candidates _OBJ_RE could never match
# ('d' is not \s), and the lookahead is `\b`-after-obj spelled out.
_RE_WS = b" \t\n\r\x0b\x0c"  # exactly re's \s byte class
_RE_WORD = (  # exactly re's \w byte class (for the \b after ``obj``)
    b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ_abcdefghijklmnopqrstuvwxyz"
)


def _iter_obj_headers(buf: bytes) -> list[tuple[int, int, int]]:
    """``[(start, end, obj_id)]`` exactly as ``_OBJ_RE.finditer(buf)``
    would report ``(m.start(), m.end(), int(m.group(1)))``, in order.
    Equivalence: every _OBJ_RE match ends at an ``obj`` token at a word
    boundary, and its ``(\\d+)\\s+0\\s+`` tail contains only digits and
    whitespace — so tails of distinct tokens never overlap, file order is
    preserved, and parsing the tail BACKWARD from each token (maximal
    digit run, as the greedy leftmost ``\\d+`` takes) reconstructs the
    same span.  The work per candidate is bounded by the real tail
    length, and candidates are the literal ``obj`` occurrences only."""
    out: list[tuple[int, int, int]] = []
    find = buf.find
    n = len(buf)
    p = find(b"obj")
    while p != -1:
        end = p + 3
        # \b after obj, then reject `endobj` (its 'd' could never satisfy
        # the \s+ the backward parse requires anyway — this is just the
        # cheap early exit for the most common false candidate)
        if (end >= n or buf[end] not in _RE_WORD) and buf[p - 3 : p] != b"end":
            i = p - 1
            if i >= 0 and buf[i] in _RE_WS:
                while i >= 0 and buf[i] in _RE_WS:  # \s+ before obj
                    i -= 1
                if i >= 0 and buf[i] == 0x30:  # literal generation digit '0'
                    i -= 1
                    if i >= 0 and buf[i] in _RE_WS:
                        while i >= 0 and buf[i] in _RE_WS:  # \s+ after N
                            i -= 1
                        if i >= 0 and 0x30 <= buf[i] <= 0x39:
                            j = i
                            while j >= 0 and 0x30 <= buf[j] <= 0x39:  # \d+
                                j -= 1
                            out.append((j + 1, end, int(buf[j + 1 : i + 1])))
        p = find(b"obj", end)
    return out
_TRAILER_KW_RE = re.compile(rb"trailer")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b")  # \b rejects /Pages
_TYPE_XREF_RE = re.compile(rb"/Type\s*/XRef\b")
_TYPE_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+0\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[([^\]]*)\]")
_CONTENTS_ONE_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")


def _blanked_objects(
    payload: bytes, scanned: list
) -> tuple[bytes, list[tuple[int, int, int]]]:
    """(payload with stream bodies blanked, [(obj_id, body_start,
    body_end)] in file order).  Blanking keeps object/dict scanning from
    ever reading stream bytes — a compressed body can contain anything,
    including fake ``N 0 obj`` tokens."""
    blanked = bytearray(payload)
    for _hdr, _head, _data, (b0, b1) in scanned:
        blanked[b0:b1] = b" " * (b1 - b0)
    blanked = bytes(blanked)
    marks = _iter_obj_headers(blanked)
    bounds = [
        (
            oid,
            end,
            marks[i + 1][0] if i + 1 < len(marks) else len(blanked),
        )
        for i, (_start, end, oid) in enumerate(marks)
    ]
    return blanked, bounds


_FONT_REF_RE = re.compile(rb"/(F\d+)\s+(\d+)\s+0\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
# the /XObject sub-dictionary of a page's (or form's) /Resources: name ->
# object-ref pairs for Form XObjects invoked from the content stream via
# `/Name Do` (spec 8.10; corpus v12).  The inner dict is flat per spec
# (names map directly to indirect refs), so a non-greedy no-nesting match
# is exact.
_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<([^<>]*)>>")
_NAME_REF_RE = re.compile(rb"/([A-Za-z0-9_.]+)\s+(\d+)\s+0\s+R")

# FreeText annotations (corpus v15): visible margin notes a rendering
# pipeline (the reference OCRs rendered pages) reads as page text; the
# /Contents string and the /Rect lower-left corner give text + position
_ANNOTS_ARR_RE = re.compile(rb"/Annots\s*\[([^\]]*)\]")
_FREETEXT_RE = re.compile(rb"/Subtype\s*/FreeText\b")
_ANNOT_LIT_RE = re.compile(rb"/Contents\s*\(((?:[^()\\]|\\.)*)\)", re.S)
_ANNOT_HEX_RE = re.compile(rb"/Contents\s*<([0-9A-Fa-f\s]*)>")
_RECT_RE = re.compile(
    rb"/Rect\s*\[\s*(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)"
)
_ANNOT_FLAGS_RE = re.compile(rb"/F\s+(\d+)")
_ANNOTS_REF_RE = re.compile(rb"/Annots\s+(\d+)\s+0\s+R")

# page display rotation (corpus v16): scanned landscape pages carry a
# landscape /MediaBox plus /Rotate, and the VIEWER turns them upright —
# reading order derives from the rotated (visual) coordinates
_ROTATE_RE = re.compile(rb"/Rotate\s+(-?\d+)")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)"
)


_PARENT_RE = re.compile(rb"/Parent\s+(\d+)\s+0\s+R")


def _inherited(body: bytes, bodies: dict, rx: "re.Pattern"):
    """Match ``rx`` on a page body or, failing that, up the /Parent
    chain (spec 7.7.3.4: /Rotate and /MediaBox are INHERITABLE page
    attributes — scanner software commonly sets /Rotate once on the
    /Pages node).  Depth-capped with a seen-set so damaged parent
    cycles terminate."""
    seen: set[int] = set()
    for _ in range(8):
        m = rx.search(body)
        if m:
            return m
        pm = _PARENT_RE.search(body)
        if pm is None:
            return None
        pid = int(pm.group(1))
        if pid in seen:
            return None
        seen.add(pid)
        body = bodies.get(pid)
        if body is None:
            return None
    return None


def _rotate_runs(
    runs: list[tuple[float, float, float, str]],
    rot: int,
    x0: float,
    y0: float,
    w: float,
    h: float,
) -> list[tuple[float, float, float, str]]:
    """Map text runs from page space to VISUAL space for a page
    displayed with ``/Rotate`` (clockwise degrees, spec 7.7.3.3): the
    reading-order heuristics cluster on what the reader SEES.
    Coordinates are normalized to the MediaBox ORIGIN first (a box like
    [20 20 632 812] must not skew the flip terms).  For a W×H page
    rotated 90° cw the visual page is H×W and a box-relative point
    (x, y) appears at (y, W - x); 180° flips both axes; 270° is the
    inverse of 90°."""
    if rot == 90:
        return [(s, y - y0, w - (x - x0), t) for s, x, y, t in runs]
    if rot == 180:
        return [(s, w - (x - x0), h - (y - y0), t) for s, x, y, t in runs]
    if rot == 270:
        return [(s, h - (y - y0), x - x0, t) for s, x, y, t in runs]
    return runs

# simple-font /Encoding forms (corpus v13): a bare base-encoding name, an
# inline encoding dict, or an indirect ref to an encoding object
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+0\s+R")
_ENC_INLINE_RE = re.compile(rb"/Encoding\s*<<([^<>]*)>>")
_ENC_NAME_RE = re.compile(rb"/Encoding\s*/([A-Za-z]+)")
_BASEENC_RE = re.compile(rb"/BaseEncoding\s*/([A-Za-z]+)")
_DIFF_ARR_RE = re.compile(rb"/Differences\s*\[([^\]]*)\]")
_DIFF_TOK_RE = re.compile(rb"/([^\s/\[\]<>()]+)|(\d+)")
# base encodings seeded from Python's byte codecs: WinAnsi tracks cp1252
# and MacRoman tracks mac_roman byte-for-byte over the printable range
_BASE_ENCODINGS = {b"WinAnsiEncoding": "cp1252", b"MacRomanEncoding": "mac_roman"}


def _encoding_table(font_body: bytes, bodies: dict) -> "_ByteEncoding | None":
    """Build the :class:`_ByteEncoding` a simple font declares, or None
    when the font carries no decodable /Encoding (absent, or a name this
    dialect does not know): such fonts keep the writer's UTF-8 literal
    dialect, the pre-v13 behavior.  A /Differences array with no usable
    /BaseEncoding seeds from ASCII identity — the compatible subset of
    every standard base; the font's true built-in encoding would need
    the embedded font program, which is out of dialect."""
    enc_body = None
    m = _ENC_REF_RE.search(font_body)
    if m:
        enc_body = bodies.get(int(m.group(1)))
    else:
        m = _ENC_INLINE_RE.search(font_body)
        if m:
            enc_body = m.group(1)
        else:
            m = _ENC_NAME_RE.search(font_body)
            if m:
                enc_body = b"/BaseEncoding /" + m.group(1)
    if enc_body is None:
        return None
    bm = _BASEENC_RE.search(enc_body)
    codec = _BASE_ENCODINGS.get(bm.group(1)) if bm else None
    dm = _DIFF_ARR_RE.search(enc_body)
    if codec is None and dm is None:
        return None
    table = _ByteEncoding()
    if codec is not None:
        for code in range(32, 256):
            try:
                table[code] = bytes([code]).decode(codec)
            except UnicodeDecodeError:
                pass  # undefined code point (e.g. cp1252 0x81): __missing__
    else:
        for code in range(32, 127):
            table[code] = chr(code)
    if dm:
        cur = 0
        for nm, num in _DIFF_TOK_RE.findall(dm.group(1)):
            if num:
                cur = int(num)
            elif cur < 256:
                table[cur] = glyphlist.glyph_to_char(nm.decode("latin-1"))
                cur += 1
    return table

# sentinel for a composite (Type0) font with NO usable ToUnicode CMap:
# its code space is the embedded font program's private glyph ids, so
# there is NOTHING to extract without font-embedding analysis — strings
# under such a font are suppressed entirely (corpus v8 pins this
# end-to-end) rather than mis-decoded as UTF-8 byte salad or rendered
# as U+FFFD floods, either of which would poison a training corpus
GLYPH_ONLY = object()
_BFCHAR_RE = re.compile(r"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(r"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXTRIPLE_RE = re.compile(
    r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>"
)
# array destination form: <lo> <hi> [<d1> <d2> ...] (one target per CID —
# the form subsetters emit for ligature runs)
_HEXARRAY_RE = re.compile(
    r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]+>)*)\s*\]"
)
_HEXITEM_RE = re.compile(r"<([0-9A-Fa-f]+)>")


def _uni16(h: str) -> str:
    """UTF-16BE hex -> text; malformed input (odd length, lone
    surrogates) renders as U+FFFD rather than raising or smuggling a
    lone surrogate into output that later .encode('utf-8') would kill."""
    try:
        return bytes.fromhex(h).decode("utf-16-be")
    except (ValueError, UnicodeDecodeError):
        return "\ufffd"


def _range_target(base: str, k: int) -> str:
    """The k-th target of a bfrange: the LAST code point of the decoded
    base string increments (spec 9.10.3) — astral bases expressed as
    surrogate pairs therefore step correctly through the astral plane.
    Steps that land in the surrogate range or past U+10FFFF render as
    U+FFFD instead of raising mid-extraction."""
    if not base:
        return "\ufffd"
    val = ord(base[-1]) + k
    if 0xD800 <= val <= 0xDFFF or val > 0x10FFFF:
        return "\ufffd"
    return base[:-1] + chr(val)


def _parse_tounicode(cmap_text: str) -> dict[int, str]:
    """CID -> text from a ToUnicode CMap stream (spec 9.10.3): ``bfchar``
    pairs plus both ``bfrange`` forms (incrementing triple and array of
    per-CID destinations); values are UTF-16BE hex."""
    table: dict[int, str] = _CidTable()

    for block in _BFRANGE_RE.findall(cmap_text):
        for am in _HEXARRAY_RE.finditer(block):
            lo = int(am.group(1), 16)
            for k, dst in enumerate(_HEXITEM_RE.findall(am.group(3))):
                table[lo + k] = _uni16(dst)
        # strip the array entries so their items cannot fake triples
        rest = _HEXARRAY_RE.sub("", block)
        for lo_h, hi_h, start_h in _HEXTRIPLE_RE.findall(rest):
            lo, hi = int(lo_h, 16), int(hi_h, 16)
            base = _uni16(start_h)
            for k in range(min(hi - lo + 1, 0x10000)):
                table[lo + k] = _range_target(base, k)
    for block in _BFCHAR_RE.findall(cmap_text):
        for cid_h, uni_h in _HEXPAIR_RE.findall(block):
            table[int(cid_h, 16)] = _uni16(uni_h)
    return table


_WS_BYTES = frozenset(b" \t\r\n\f\v\x00")  # PDF whitespace class (7.2.3)

# cap on any single decoded stream: corrupt/malicious LZW or RunLength
# input can expand without bound (the zip-bomb shape); a content stream
# past this is not a text page in any corpus
_MAX_DECODED = 1 << 26


_LZW_BASE: tuple = tuple(bytes([i]) for i in range(256)) + (b"", b"")


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (spec 7.4.4.2, the TIFF variant): variable 9->12-bit
    big-endian codes, 256 = clear-table, 257 = EOD.  ``early`` is the
    ``/EarlyChange`` parameter (default 1: the code width grows one
    entry before the table strictly requires it — the decoder's table
    runs one entry behind the encoder's, so the switch points are
    511/1023/2047 rather than the powers of two).  Hot loop keeps the
    table length and width threshold as locals — this runs per LZW
    content stream on the extraction path."""
    table = list(_LZW_BASE)
    append = table.append
    tlen = 258
    width = 9
    mask = (1 << 9) - 1  # round-8: masks precomputed per width switch
    switch = (1 << 9) - early
    prev: bytes | None = None
    out = bytearray()
    bitbuf = bitcnt = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            bitcnt -= width
            code = (bitbuf >> bitcnt) & mask
            # literal byte codes are the bulk of real streams: first branch
            if code < 256:
                entry = table[code]
                if prev is not None:
                    append(prev + entry[:1])
                    tlen += 1
            elif code == 256:
                table = list(_LZW_BASE)
                append = table.append
                tlen = 258
                width = 9
                mask = (1 << 9) - 1
                switch = (1 << 9) - early
                prev = None
                bitbuf &= (1 << bitcnt) - 1
                continue
            elif code == 257:
                return bytes(out)
            elif prev is None:
                raise ValueError("bad LZW stream: first code not a byte")
            elif code < tlen:
                entry = table[code]
                append(prev + entry[:1])
                tlen += 1
            elif code == tlen:
                entry = prev + prev[:1]
                append(entry)
                tlen += 1
            else:
                raise ValueError("bad LZW stream: code beyond table")
            out += entry
            if len(out) > _MAX_DECODED:
                raise ValueError("LZW stream exceeds decode cap")
            prev = entry
            if tlen >= switch and width < 12:
                width += 1
                mask = (1 << width) - 1
                switch = (1 << width) - early
        bitbuf &= 0xFFFFFF  # bound the accumulator (<= 23 carried bits)
    # EOD missing: tolerate (some writers rely on data exhaustion)
    return bytes(out)


def _rl_decode(data: bytes) -> bytes:
    """RunLengthDecode (spec 7.4.5): length byte 0-127 = copy next n+1
    literally, 129-255 = repeat next byte 257-n times, 128 = EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        if length == 128:
            break
        if length < 128:
            if i + 2 + length > n:
                raise ValueError("truncated RunLength literal run")
            out += data[i + 1 : i + 2 + length]
            i += 2 + length
        else:
            if i + 1 >= n:
                raise ValueError("truncated RunLength repeat run")
            out += bytes([data[i + 1]]) * (257 - length)
            i += 2
        if len(out) > _MAX_DECODED:
            raise ValueError("RunLength stream exceeds decode cap")
    return bytes(out)


_WS_DELETE = bytes(_WS_BYTES)  # translate() deletion set


def _ahx_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (spec 7.4.2): hex digits, whitespace ignored,
    ``>`` is EOD, odd digit count padded with 0.  Whole-buffer
    translate + ``bytes.fromhex`` — never a per-byte Python loop (a
    hex stream is 2x the payload; this is a decode hot path)."""
    eod = data.find(b">")
    if eod >= 0:
        data = data[:eod]
    digits = data.translate(None, _WS_DELETE)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as exc:
        raise ValueError(f"bad ASCIIHex stream: {exc}") from exc


_A85_POW = (85**4, 85**3, 85**2, 85, 1)
# round-8 vectorized decode: digit-value table (byte -> byte-33, mod 256 so
# translate stays total; invalid bytes are rejected before it is applied),
# the valid digit alphabet, and the first-digit values whose group COULD
# exceed 2**32 ('s','t','u': n >= 82*85^4 overflows only from digit 82 up)
_A85_SUB33 = bytes((v - 33) & 0xFF for v in range(256))
_A85_VALID = bytes(range(0x21, 0x76))


def _a85_slow(body: bytes) -> bytes:
    """Reference per-group decode of the FULL groups; also the error path
    (kept bit- and message-identical to the pre-round-8 loop — its
    ValueErrors are user-visible in the per-row ``error`` column)."""
    p0, p1, p2, p3, p4 = _A85_POW
    out = bytearray()
    full = len(body) - len(body) % 5
    for i in range(0, full, 5):
        g = body[i : i + 5]
        n = (
            (g[0] - 33) * p0
            + (g[1] - 33) * p1
            + (g[2] - 33) * p2
            + (g[3] - 33) * p3
            + (g[4] - 33)
        )
        if n > 0xFFFFFFFF or min(g) < 0x21 or max(g) > 0x75:
            raise ValueError("bad ASCII85 group %r" % g)
        out += n.to_bytes(4, "big")
    return bytes(out)


def _a85_decode(data: bytes) -> bytes:
    """ASCII85Decode (spec 7.4.3): base-85 groups of 5 chars -> 4 bytes,
    ``z`` = four zero bytes (only between groups), whitespace ignored,
    ``~>`` is EOD; a final partial group of k chars yields k-1 bytes.

    Full groups decode as five C-speed column operations: with digit
    value d_ij (group i, position j), the concatenated 32-bit group
    values equal ``sum_j 85^(4-j) * S_j`` where ``S_j`` places column
    j's digits in the low byte of each 4-byte cell of one big integer —
    valid groups never exceed 2**32, so no carry crosses a cell.  Any
    invalid byte falls back to the per-group loop for the exact
    pre-existing error; groups starting at digit 's' or above (the only
    ones that can overflow) are re-verified individually."""
    eod = data.find(b"~")
    if eod >= 0:
        data = data[:eod]
    body = data.translate(None, _WS_DELETE)
    if b"z" in body:
        # legal only on a group boundary: expand, then verify alignment
        # by re-checking below (an in-group z yields a non-85 value)
        parts = body.split(b"z")
        for p in parts[:-1]:
            if len(p) % 5:
                raise ValueError("ASCII85 'z' inside a group")
        body = b"!!!!!".join(parts)  # '!'*5 encodes four zero bytes
    full = len(body) - len(body) % 5
    head, tail = body[:full], body[full:]
    if head.translate(None, _A85_VALID):
        out = bytearray(_a85_slow(body))  # exact error for the bad group
    else:
        ngroups = full // 5
        vals = head.translate(_A85_SUB33)
        acc = 0
        for j, pw in enumerate(_A85_POW):
            cells = bytearray(4 * ngroups)
            cells[3::4] = vals[j::5]
            acc += pw * int.from_bytes(cells, "big")
        if max(head[0::5], default=0) >= 0x73:
            # a group led by digit >= 82 may exceed 2**32; re-verify those
            for i, d0 in enumerate(head[0::5]):
                if d0 >= 0x73:
                    g = head[5 * i : 5 * i + 5]
                    n = sum((c - 33) * p for c, p in zip(g, _A85_POW))
                    if n > 0xFFFFFFFF:
                        _a85_slow(body)  # raises the exact original error
        out = bytearray(acc.to_bytes(4 * ngroups, "big"))
    if tail:
        p0, p1, p2, p3, p4 = _A85_POW
        k = len(tail)
        if k == 1:
            raise ValueError("truncated ASCII85 final group")
        if min(tail) < 0x21 or max(tail) > 0x75:
            raise ValueError("bad ASCII85 byte in final group")
        g = tail + b"u" * (5 - k)  # 'u' = 84, the pad digit
        n = (
            (g[0] - 33) * p0
            + (g[1] - 33) * p1
            + (g[2] - 33) * p2
            + (g[3] - 33) * p3
            + (g[4] - 33)
        )
        if n > 0xFFFFFFFF:
            raise ValueError("ASCII85 group overflow")
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _apply_filters(head: bytes, data: bytes) -> bytes:
    """Run the stream's ``/Filter`` chain in decode (array) order.
    Raises ValueError on a corrupt body or a filter outside the decode
    set (DCTDecode/JPXDecode image codecs, CCITTFax, JBIG2, Crypt) —
    the content path surfaces that as the row's structured error, never
    as byte salad."""
    m = _FILTER_RE.search(head)
    if m is None:
        return data
    for raw in _FILTER_NAME_RE.findall(m.group(1)):
        name = raw.decode("latin-1")
        if name in ("FlateDecode", "Fl"):
            try:
                data = zlib.decompress(data)
            except zlib.error as exc:
                raise ValueError(f"bad FlateDecode stream: {exc}") from exc
        elif name in ("LZWDecode", "LZW"):
            em = _EARLYCHANGE_RE.search(head)
            data = _lzw_decode(data, int(em.group(1)) if em else 1)
        elif name in ("RunLengthDecode", "RL"):
            data = _rl_decode(data)
        elif name in ("ASCIIHexDecode", "AHx"):
            data = _ahx_decode(data)
        elif name in ("ASCII85Decode", "A85"):
            data = _a85_decode(data)
        else:
            raise ValueError(f"unsupported stream filter /{name}")
        if len(data) > _MAX_DECODED:
            raise ValueError("decoded stream exceeds decode cap")
    return data


def _inflate(head: bytes, data: bytes) -> bytes | None:
    """Stream data after its (optional) filter chain; None when the body
    is corrupt or a filter is unsupported — the shared no-raise prologue
    of the two structure-stream parsers (xref and ObjStm)."""
    try:
        return _apply_filters(head, data)
    except ValueError:
        return None


# ---------------------------------------------------------------------
# encrypted PDFs: the Standard security handler, RC4 (spec 7.6.2-7.6.3)
# ---------------------------------------------------------------------

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+0\s+R")
_FILE_ID_RE = re.compile(
    rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>\s*<[0-9A-Fa-f]*>\s*\]"
)
_HEXSTR_FIELD = {
    name: re.compile(rb"/" + name.encode() + rb"\s*<([0-9A-Fa-f]+)>")
    for name in ("O", "U")
}
_INT_FIELD = {
    name: re.compile(rb"/" + name.encode() + rb"\s+(-?\d+)")
    for name in ("V", "R", "P", "Length")
}

# the spec's 32-byte password padding string (Algorithm 2)
_PW_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)


def _rc4(key: bytes, data: bytes) -> bytes:
    try:
        return _OsslCipher(_OsslARC4(key), mode=None).encryptor().update(data)
    except ValueError:
        return _rc4_py(key, data)


def _rc4_py(key: bytes, data: bytes) -> bytes:
    # OpenSSL's ARC4 takes only 5/7/8/10/16/20/24/32-byte keys, but PDF
    # Algorithms 1/2 also produce 6, 9 and 11-15 byte ones: file keys for
    # a /Length of 48, 72 or 88-120 bits, and the per-object keys (file
    # key + 5 bytes) of every 6-10 byte file key.  Those run here, and
    # tests/test_kernel_pdf.py::test_aes_openssl_parity checks every
    # length from 5 to 16 bytes against OpenSSL.
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _std_file_key(
    o: bytes,
    p: int,
    file_id: bytes,
    r: int,
    n_bytes: int,
    meta_tail: bool = False,
) -> bytes:
    """Algorithm 2 (empty user password): the file encryption key.
    ``meta_tail``: V4 files with /EncryptMetadata false append
    0xFFFFFFFF to the hash input (spec algorithm 2 step f)."""
    import hashlib

    h = hashlib.md5(
        _PW_PAD + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + file_id
        + (b"\xff\xff\xff\xff" if meta_tail else b"")
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n_bytes]).digest()
    return h[:n_bytes]


def _aesv3_file_key(enc: bytes, u_val: bytes, r: int) -> bytes:
    """AES-256 Standard handler (V5, R5/R6), empty user password: verify
    the /U hash, then unwrap the 32-byte file key from /UE
    (ISO 32000-2 §7.6.4.4.10-11; R6 uses the hardened Algorithm-2.B
    hash, R5 the interim single SHA-256).  /Perms, when present, is
    decrypted with the recovered key and its ``adb`` magic checked — a
    mismatch means a corrupt or hostile file, which must fail loudly."""
    from markmuse_spark.kernel import aes

    if len(u_val) < 48:
        raise ValueError("encrypted PDF: /U shorter than 48 bytes (V5)")
    vsalt, ksalt = u_val[32:40], u_val[40:48]
    if aes.pdf2_hash(b"", vsalt, b"", r) != u_val[:32]:
        raise ValueError("encrypted PDF: password required")
    ue_m = re.search(rb"/UE\s*<([0-9A-Fa-f]+)>", enc)
    if ue_m is None:
        raise ValueError("encrypted PDF: /UE missing (V5)")
    ue = bytes.fromhex(ue_m.group(1).decode())
    key = aes.cbc_decrypt(
        aes.pdf2_hash(b"", ksalt, b"", r), bytes(16), ue[:32]
    )
    perms_m = re.search(rb"/Perms\s*<([0-9A-Fa-f]+)>", enc)
    if perms_m is not None:
        dec = aes.cbc_decrypt(
            key, bytes(16), bytes.fromhex(perms_m.group(1).decode())[:16]
        )
        if dec[9:12] != b"adb":
            raise ValueError("encrypted PDF: /Perms integrity check failed")
    return key


_ENDSTREAM_OBJ_RE = re.compile(rb"\s*endstream\s*endobj")


def _aes_rebuild(
    payload: bytes,
    todo: list,
    file_key: bytes,
    cipher: str,
) -> bytes:
    """Decrypt AES stream bodies (IV-prefixed CBC, PKCS#7 padding) and
    rebuild the payload WITHOUT moving any byte offset: AES shrinks
    every body (16-byte IV + padding), so each ``stream..endobj`` region
    is rewritten in place as ``plaintext + endstream/endobj + newline
    fill`` to its original byte length, and the header's direct
    ``/Length`` integer is overwritten space-padded to its original
    digit width.  Every offset-bearing structure (``startxref``, xref
    table entries, object headers) therefore stays valid on the
    decrypted copy.  Each stream decrypts with one OpenSSL CBC call
    (:func:`markmuse_spark.kernel.aes.cbc_decrypt`) under its own key:
    the per-object key for AESV2, the file key for AESV3."""
    from markmuse_spark.kernel import aes

    # every body's shape is checked before any decrypts, so a file with
    # both a misaligned and a badly padded stream reports the former
    for (_h, _head, data, _span), _num in todo:
        if len(data) < 32 or (len(data) - 16) % 16:
            raise ValueError(
                "encrypted PDF: AES stream body not block-aligned"
            )
    out = bytearray(payload)
    for (hdr_start, head, data, (s, e)), num in todo:
        if cipher == "aesv2":
            okey = _aes_object_key(file_key, num)
        else:
            okey = file_key
        pt = aes.cbc_decrypt(okey, data[:16], data[16:])
        pad = pt[-1] if pt else 0
        if not 1 <= pad <= 16 or pt[-pad:] != bytes([pad]) * pad:
            raise ValueError("encrypted PDF: bad AES padding")
        pt = pt[:-pad]
        lm = _LENGTH.search(head)
        if lm is not None:
            # head is _STREAM_HDR group(1), which starts 2 bytes past the
            # match start (after the opening "<<") — offsets inside head
            # map to payload at hdr_start + 2 + offset
            a = hdr_start + 2 + lm.start(1)
            b = hdr_start + 2 + lm.end(1)
            digits = str(len(pt)).encode()
            if len(digits) <= b - a:
                out[a:b] = digits.ljust(b - a)
        tail = _ENDSTREAM_OBJ_RE.match(payload, e)
        if tail is not None:
            region_end = tail.end()
            fixed = pt + b"\nendstream\nendobj"
            out[s:region_end] = fixed + b"\n" * (region_end - s - len(fixed))
        else:  # stream not directly followed by endobj: pad inside the
            # slot; the scanner's endstream fallback rstrips newlines
            out[s:e] = pt + b"\n" * (e - s - len(pt))
    return bytes(out)


def _std_user_check(key: bytes, file_id: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U value an empty user password
    produces — compared against the stored /U to accept the file."""
    import hashlib

    if r == 2:
        return _rc4(key, _PW_PAD)
    u = _rc4(key, hashlib.md5(_PW_PAD + file_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return u


def _object_key(file_key: bytes, num: int, gen: int = 0) -> bytes:
    """Algorithm 1: the per-object RC4 key."""
    import hashlib

    h = hashlib.md5(
        file_key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


def _aes_object_key(file_key: bytes, num: int) -> bytes:
    """AESV2 per-object key (spec algorithm 1 with the AES salt) —
    the ONE derivation streams and strings share."""
    import hashlib

    return hashlib.md5(
        file_key + num.to_bytes(3, "little") + b"\x00\x00" + b"sAlT"
    ).digest()[: min(len(file_key) + 5, 16)]


def _make_string_decryptor(file_key: bytes, cipher: str):
    """``fn(obj_num, raw) -> bytes | None`` for STRING operands: spec
    7.6.2 encrypts every string with the same per-object keys as
    streams (AES strings are IV-prefixed CBC with PKCS#7 padding).
    Undecryptable input returns None — the caller suppresses the
    string, never emits byte salad."""
    from markmuse_spark.kernel import aes

    def fn(num: int, raw: bytes):
        try:
            if cipher == "rc4":
                return _rc4(_object_key(file_key, num), raw)
            if len(raw) < 32 or (len(raw) - 16) % 16:
                return None
            okey = (
                _aes_object_key(file_key, num)
                if cipher == "aesv2"
                else file_key  # aesv3: the file key directly
            )
            pt = aes.cbc_decrypt(okey, raw[:16], raw[16:])
            pad = pt[-1]
            # full PKCS#7 validation (every pad byte, not just the
            # last): a wrong key passing a last-byte-only check ~1/16
            # of the time would feed garbage to the printability guard
            if not 1 <= pad <= 16 or pt[-pad:] != bytes([pad]) * pad:
                return None
            return pt[:-pad]
        except Exception:
            return None

    return fn


def _decrypt_payload(payload: bytes) -> tuple:
    """When the trailer carries ``/Encrypt``, return a decrypted copy of
    the payload (every stream body RC4'd in place with its per-object
    key — RC4 is length-preserving, so every offset and ``/Length``
    stays valid); unchanged payload when the ``/Encrypt`` bytes were a
    fluke inside a compressed body.

    Supported: the Standard handler — ``/V`` 1-2 ``/R`` 2-3 (RC4 40-128
    bit, the pre-AES Acrobat form), ``/V`` 4 ``/R`` 4 (``/CFM`` V2 or
    AESV2, corpus v11) and ``/V`` 5 ``/R`` 5-6 (AES-256; both AES forms
    decrypt on OpenSSL through :mod:`markmuse_spark.kernel.aes`) —
    all with the empty user password.  Everything else fails LOUDLY
    with a structured ValueError (``encrypted PDF: ...``) that the
    extraction operator surfaces as the row's error column: an
    encrypted doc this kernel cannot read must never flow onward as
    byte salad.  Returns ``(payload, string_decryptor)``: only STREAM
    bodies are rewritten (string operands inside them decrypt with
    their stream); strings in object DICTS (annotation /Contents,
    document info) remain ciphertext in the returned payload, and the
    second element is the per-object-key decryptor callers use to read
    them — None when the file was not actually encrypted."""
    tpos = payload.rfind(b"trailer")
    region = payload[tpos:] if tpos >= 0 else b""
    em = _ENCRYPT_REF_RE.search(region)
    if em is None:
        # xref-stream trailers (no "trailer" keyword) carry /Encrypt in
        # the /Type /XRef stream's own dict
        for _start, head, _data, _span in _scan_streams(payload):
            if _TYPE_XREF_RE.search(head) and _ENCRYPT_REF_RE.search(head):
                em = _ENCRYPT_REF_RE.search(head)
                region = head
                break
        if em is None:
            return payload, None
    enc_num = int(em.group(1))
    om = re.search(
        rb"(?<![0-9])%d\s+0\s+obj\b(.*?)endobj" % enc_num, payload, re.S
    )
    if om is None:
        raise ValueError("encrypted PDF: /Encrypt object not found")
    enc = om.group(1)
    if not re.search(rb"/Filter\s*/Standard\b", enc):
        raise ValueError("encrypted PDF: non-Standard security handler")
    ints = {
        k: int(m.group(1))
        for k, rx in _INT_FIELD.items()
        if (m := rx.search(enc)) is not None
    }
    v, r = ints.get("V", 0), ints.get("R", 0)
    cfm_m = re.search(rb"/CFM\s*/(\w+)", enc)
    cfm = cfm_m.group(1) if cfm_m else None
    if v in (1, 2) and r in (2, 3):
        cipher = "rc4"
    elif v == 4 and r == 4 and cfm in (b"V2", b"AESV2"):
        cipher = "rc4" if cfm == b"V2" else "aesv2"
    elif v == 5 and r in (5, 6) and cfm == b"AESV3":
        cipher = "aesv3"
    else:
        raise ValueError(
            f"encrypted PDF: unsupported cipher (V={v} R={r} "
            f"CFM={cfm.decode() if cfm else None})"
        )
    om_hex = _HEXSTR_FIELD["O"].search(enc)
    um_hex = _HEXSTR_FIELD["U"].search(enc)
    if om_hex is None or um_hex is None:
        raise ValueError("encrypted PDF: /O or /U not a hex string")
    o_val = bytes.fromhex(om_hex.group(1).decode())
    u_val = bytes.fromhex(um_hex.group(1).decode())
    # /EncryptMetadata false: metadata streams stay plaintext AND (V4)
    # the key derivation appends 0xFFFFFFFF (spec algorithm 2 step f)
    plain_meta = re.search(rb"/EncryptMetadata\s+false", enc) is not None
    if cipher == "aesv3":
        key = _aesv3_file_key(enc, u_val, r)
    else:
        idm = _FILE_ID_RE.search(region) or _FILE_ID_RE.search(
            payload[tpos:] if tpos >= 0 else payload
        )
        if idm is None:
            raise ValueError("encrypted PDF: trailer /ID missing")
        file_id = bytes.fromhex(idm.group(1).decode())
        n_bytes = ints.get("Length", 40) // 8 if v >= 2 else 5
        key = _std_file_key(
            o_val, ints.get("P", -1), file_id, r, n_bytes,
            meta_tail=plain_meta and v == 4,
        )
        check = _std_user_check(key, file_id, r)
        ok = check[:16] == u_val[:16] if r >= 3 else check == u_val[:32]
        if not ok:
            raise ValueError("encrypted PDF: password required")
    obj_marks = [(start, oid) for start, _end, oid in _iter_obj_headers(payload)]
    starts = [pos for pos, _ in obj_marks]
    todo = []  # (stream tuple, object number) pairs to decrypt
    for tup in _scan_streams(payload):
        hdr_start, head = tup[0], tup[1]
        if _TYPE_XREF_RE.search(head):
            continue  # xref streams are never encrypted (spec 7.5.8)
        if plain_meta and re.search(rb"/Type\s*/Metadata\b", head):
            continue
        k = bisect.bisect_right(starts, hdr_start) - 1
        if k < 0:
            continue
        todo.append((tup, obj_marks[k][1]))
    str_fn = _make_string_decryptor(key, cipher)
    if cipher == "rc4":
        out = bytearray(payload)
        for (_h, _head, data, (s, e)), num in todo:
            okey = _object_key(key, num)
            out[s:e] = _rc4(okey, data)
        return bytes(out), str_fn
    return _aes_rebuild(payload, todo, key, cipher), str_fn


def _png_paeth_pred(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_unpredict(data: bytes, rowlen: int, bpp: int) -> bytes | None:
    """Reverse PNG row prediction (``/DecodeParms /Predictor >= 10`` —
    the form most real-world PDF writers emit for xref streams, spec
    7.4.4.4): each ``rowlen``-byte row is prefixed by one PNG filter tag
    (0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth) applied over ``bpp``-
    byte units.  Trailing partial rows are ignored (tolerant decode);
    an invalid tag returns None — entries are navigation metadata and
    the caller's no-raise contract degrades to the body-scan fallback."""
    if rowlen <= 0 or bpp <= 0:
        return None
    step = rowlen + 1
    out = bytearray()
    prev = bytes(rowlen)
    for base in range(0, len(data) - step + 1, step):
        ft = data[base]
        row = bytearray(data[base + 1 : base + 1 + rowlen])
        if ft == 0:
            pass
        elif ft == 1:
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _png_paeth_pred(left, prev[i], ul)) & 0xFF
        else:
            return None
        out += row
        prev = bytes(row)
    return bytes(out)


_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")


def _undo_predictor(head: bytes, data: bytes) -> bytes | None:
    """Apply the stream dict's ``/DecodeParms`` prediction reversal to
    already-inflated data.  Predictor 1/absent: identity.  Predictor
    >= 10: PNG row filters (:func:`_png_unpredict`) with geometry from
    /Columns / /Colors / /BitsPerComponent (defaults 1/1/8).  Predictor
    2 (TIFF) is not emitted for xref streams by real writers and
    returns None (no-raise contract; navigation falls back).  The
    /Predictor key is searched across the whole stream dict rather than
    inside a parsed /DecodeParms value, which tolerates both the dict
    form and the array form (``/DecodeParms [<<...>>]``) real files
    carry."""
    pm = _PREDICTOR_RE.search(head)
    if pm is None:
        return data
    pred = int(pm.group(1))
    if pred <= 1:
        return data
    if pred < 10:  # TIFF predictor: never seen on xref streams
        return None
    cm = _COLUMNS_RE.search(head)
    colors_m = _COLORS_RE.search(head)
    bpc_m = _BPC_RE.search(head)
    columns = int(cm.group(1)) if cm else 1
    colors = int(colors_m.group(1)) if colors_m else 1
    bpc = int(bpc_m.group(1)) if bpc_m else 8
    rowlen = (columns * colors * bpc + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    return _png_unpredict(data, rowlen, bpp)


def _parse_xref_stream(head: bytes, data: bytes) -> dict[int, tuple[int, ...]]:
    """Entries of a PDF 1.5 cross-reference stream (spec 7.5.8):
    ``{obj_id: (type, field2, field3)}`` — fixed-width big-endian rows per
    ``/W``; subsection starts/counts from ``/Index`` (default ``[0 /Size]``).
    A zero width means the field is absent: the TYPE field then defaults
    to 1 (in-use at offset), other fields to 0.  Malformed tails stop the
    decode rather than raising — xref entries are navigation metadata and
    the object scan never depends on them.

    Round 6: the entry bytes pass through ``/DecodeParms`` prediction
    reversal (:func:`_undo_predictor`) after inflation — PNG-predictor'd
    xref streams (``/Predictor 12``) are the form most real-world
    writers emit (corpus v9 exercises them end-to-end)."""
    data = _inflate(head, data)
    if data is None:
        return {}
    data = _undo_predictor(head, data)
    if data is None:
        return {}
    wm = re.search(rb"/W\s*\[([^\]]*)\]", head)
    if not wm:
        return {}
    try:
        widths = [int(x) for x in wm.group(1).split()]
    except ValueError:
        return {}
    if not widths or sum(widths) <= 0:
        return {}
    im = re.search(rb"/Index\s*\[([^\]]*)\]", head)
    if im:
        try:
            nums = [int(x) for x in im.group(1).split()]
        except ValueError:  # malformed /Index: no-raise contract
            return {}
        sections = list(zip(nums[0::2], nums[1::2]))
    else:
        sm = re.search(rb"/Size\s+(\d+)", head)
        sections = [(0, int(sm.group(1)) if sm else len(data) // sum(widths))]
    out: dict[int, tuple[int, ...]] = {}
    rowlen = sum(widths)
    pos = 0
    for start, count in sections:
        for k in range(count):
            if pos + rowlen > len(data):
                return out
            row, pos = data[pos : pos + rowlen], pos + rowlen
            fields: list[int] = []
            o = 0
            for fi, w in enumerate(widths):
                if w == 0:
                    fields.append(1 if fi == 0 else 0)
                else:
                    fields.append(int.from_bytes(row[o : o + w], "big"))
                    o += w
            out[start + k] = tuple(fields)
    return out


def _parse_objstm(head: bytes, data: bytes) -> list[tuple[int, bytes]]:
    """Objects packed in a ``/Type /ObjStm`` stream (spec 7.5.7):
    ``[(obj_id, body_bytes), ...]`` in packing order.  The stream opens
    with ``/N`` integer pairs ``objnum offset`` (offsets relative to
    ``/First``), followed by the concatenated object bodies — how real
    modern producers serialize the whole page tree, so these objects
    never appear as top-level ``N 0 obj`` definitions at all.  Packed
    objects may not carry streams (spec), so they contribute bodies to
    the object graph but never stream ownership.  Malformed input
    yields ``[]`` (the caller's graph then degrades exactly like any
    damaged file)."""
    data = _inflate(head, data)
    if data is None:
        return []
    nm = re.search(rb"/N\s+(\d+)", head)
    fm = re.search(rb"/First\s+(\d+)", head)
    if not nm or not fm:
        return []
    n, first = int(nm.group(1)), int(fm.group(1))
    if not 0 <= first <= len(data):
        return []
    try:
        nums = [int(x) for x in data[:first].split()[: 2 * n]]
    except ValueError:
        return []
    pairs = list(zip(nums[0::2], nums[1::2]))
    out: list[tuple[int, bytes]] = []
    end_all = len(data) - first
    for k, (oid, off) in enumerate(pairs):
        end = pairs[k + 1][1] if k + 1 < len(pairs) else end_all
        if not 0 <= off <= end <= end_all:
            break  # malformed tail: keep the objects that parsed
        out.append((oid, data[first + off : first + end]))
    return out


def _trailer_root(blanked: bytes, scanned: "Sequence" = ()) -> int | None:
    """The catalog object id from the file's trailer, following the LAST
    ``startxref`` (each incremental update appends its own, so the last
    one is the newest section — its ``/Root`` supersedes all ``/Prev``
    history without chaining).  Handles both trailer forms: the classic
    ``xref`` table followed by a ``trailer`` dict, and the PDF 1.5
    cross-reference STREAM whose own dict carries the trailer fields
    (corpus v6 — the modern-default form).  Returns None for files with
    no/damaged trailer; the caller falls back to scanning object bodies
    for the catalog.

    ``blanked`` must be the STREAM-BLANKED byte view (the same invariant
    every other token scan in this module holds): compressed stream
    bodies can contain fake ``startxref``/``/Root`` look-alikes, and on
    a truncated file those would otherwise hijack the root.  ``scanned``
    (the raw stream list) lets the xref-stream branch decode the actual
    entry table (:func:`_parse_xref_stream`) and CROSS-CHECK the /Root
    claim: when the table decodes, the root must have an in-use (type-1)
    entry whose offset lands on ``root 0 obj`` — a hint that fails its
    own xref is distrusted (None -> body-scan fallback)."""
    # LAST `startxref <digits>`: reverse rfind + anchored match instead of
    # a forward finditer over the whole payload (round-8: startxref sits
    # near EOF by construction, the forward scan cost ~42 us/doc).  A
    # match's span is `startxref` + ws + digits and cannot contain another
    # occurrence start, so finditer's non-overlap rule never hides a later
    # match — last-rfind-that-matches == last finditer match (pinned by
    # test_trailer_root_reverse_scan_parity).
    pos = len(blanked)
    last = None
    while True:
        pos = blanked.rfind(b"startxref", 0, pos)
        if pos < 0:
            break
        last = _STARTXREF_RE.match(blanked, pos)
        if last is not None:
            break
    if last is None:
        return None
    off = int(last.group(1))
    if not 0 <= off < len(blanked):
        return None
    window = blanked[off : off + 4096].lstrip()
    if window.startswith(b"xref"):
        # the trailer dict belonging to THIS table is the first 'trailer'
        # keyword after the table start
        tm = _TRAILER_KW_RE.search(blanked, off)
        src = blanked[tm.end() : tm.end() + 2048] if tm else b""
        # HYBRID-REFERENCE file (spec 7.5.8.4, the Acrobat-6-era
        # compatibility form, round-7 ask #4): a classic trailer whose
        # /XRefStm points at a cross-reference STREAM carrying the
        # authoritative entries — its fields take precedence over the
        # classic table's (a 1.4-only consumer reads the table and may
        # miss updated objects; a 1.5 consumer must prefer the stream)
        xm = _XREFSTM_RE.search(src)
        if xm:
            root = _xref_stream_root(blanked, int(xm.group(1)), scanned)
            if root is not None:
                return root
            # stream missing/undecodable: the classic trailer stands
        rm = _ROOT_RE.search(src)
        return int(rm.group(1)) if rm else None
    return _xref_stream_root(blanked, off, scanned)


_XREFSTM_RE = re.compile(rb"/XRefStm\s+(\d+)")


def _xref_stream_root(
    blanked: bytes, off: int, scanned: "Sequence"
) -> int | None:
    """/Root from the ``/Type /XRef`` stream at byte ``off``, with the
    decoded entry table cross-checking the claim (see
    :func:`_trailer_root`); None when no xref stream parses there."""
    if not 0 <= off < len(blanked):
        return None
    window = blanked[off : off + 4096].lstrip()
    om = _OBJ_RE.match(window)
    if om is None or not _TYPE_XREF_RE.search(window[:2048]):
        return None
    src = window[: window.find(b"stream")] if b"stream" in window else window
    rm = _ROOT_RE.search(src)
    if rm is None:
        return None
    root = int(rm.group(1))
    xs = next(
        (
            s
            for s in scanned
            if off <= s[0] < off + 4096 and _TYPE_XREF_RE.search(s[1])
        ),
        None,
    )
    if xs is not None:
        entries = _parse_xref_stream(xs[1], xs[2])
        # a decoded table whose (possibly /Index-scoped, possibly
        # truncated-decode) sections simply do not COVER the root id
        # is NO EVIDENCE, not a lie: an incrementally-updated file's
        # final section lists only the updated objects and chains
        # history through /Prev — distrusting a valid /Root for that
        # would discard the spec's authoritative pointer (round-4
        # advice).  Only a PRESENT entry that contradicts the claim
        # (free/unknown type, or an offset that does not land on
        # `root 0 obj`) is distrusted.
        ent = entries.get(root)  # {} and absent alike: no evidence
        if ent is not None:
            if ent[0] not in (1, 2):
                return None
            if ent[0] == 1:
                hm = _OBJ_RE.match(blanked, ent[1])
                if hm is None or int(hm.group(1)) != root:
                    return None
            # type-2 (packed in an ObjStm) has no file offset to
            # cross-check; the caller still demands the hinted
            # catalog parse to a /Pages root before trusting it
    return root


def _page_graph(payload: bytes, scanned: list):
    """Object-graph view of the document, or None when no page graph
    parses (pre-v5 dialect and arbitrary damaged files; the caller then
    falls back to every-stream-is-a-page, which is also how
    partial/truncated documents keep yielding their text).

    Returns ``(groups, fonts_per_page, xobjs_per_page, annots_per_page,
    geom_per_page, owner, bodies, objstm_oids)``: one stream-index
    group per page in /Kids order,
    each page's ``{font_name: obj_id}`` / ``{xobject_name: obj_id}``
    resource maps and ``/Annots`` ref list, the stream-ownership map and
    the blanked object bodies (for resolving /ToUnicode, Form-XObject
    and annotation refs)."""
    blanked, bounds = _blanked_objects(payload, scanned)
    if not bounds:
        return None
    # duplicate object ids resolve LAST-DEFINITION-WINS everywhere: real
    # incremental updates re-emit objects under the SAME number, and the
    # appended definition supersedes the original (spec 7.5.6).  Plain
    # assignment in file order does it; dict insertion order keeps each
    # id at its first file position, carrying its latest body.  Object
    # definitions come from TWO sources merged by file position: the
    # top-level ``N 0 obj`` scan, and objects unpacked from ``/ObjStm``
    # streams (corpus v7 — modern producers pack the entire page tree
    # there, so no page/catalog object exists top-level at all); an
    # ObjStm's objects are "defined" at the ObjStm's own file position,
    # so an appended update ObjStm supersedes earlier definitions and
    # vice versa.
    defs: list[tuple[int, int, bytes, bool]] = [
        (b1, oid, blanked[b1:b2], False) for oid, b1, b2 in bounds
    ]
    for hdr_start, head, data, _span in scanned:
        if _TYPE_OBJSTM_RE.search(head):
            defs.extend(
                (hdr_start, oid, body, True)
                for oid, body in _parse_objstm(head, data)
            )
    defs.sort(key=lambda d: d[0])
    bodies: dict[int, bytes] = {}
    last_pos: dict[int, int] = {}
    objstm_oids: set[int] = set()  # oids whose WINNING definition came
    # from an /ObjStm: their dict strings are protected by the stream's
    # encryption (spec 7.5.7), never individually (string decryption
    # must skip them)
    for pos, oid, body, from_stm in defs:
        bodies[oid] = body
        last_pos[oid] = pos
        (objstm_oids.add if from_stm else objstm_oids.discard)(oid)
    # stream index -> owning object id, restricted to each id's LATEST
    # definition ACROSS BOTH SOURCES (definition positions are unique, so
    # ``last_pos[oid] == b1`` says this top-level definition is the
    # globally newest one): a stream inside a superseded top-level
    # definition must not shadow (or survive alongside) the update's
    # stream — including when the superseding definition is a packed
    # (non-stream) ObjStm body, in which case the id simply has no
    # stream and a /Contents ref to it falls back whole-file
    obj_starts = [b1 for _oid, b1, _b2 in bounds]
    owner: dict[int, int] = {}
    for si, (hdr_start, _h, _d, _span) in enumerate(scanned):
        j = bisect.bisect_right(obj_starts, hdr_start) - 1
        if j >= 0:
            oid, b1, _b2 = bounds[j]
            if last_pos[oid] == b1:
                owner[oid] = si
    pages: list[tuple[int, list[int], dict[str, int]]] = []
    for oid, body in bodies.items():
        if not _TYPE_PAGE_RE.search(body):
            continue
        am = _CONTENTS_ARR_RE.search(body)
        if am:  # content split across streams concatenates in order
            cids = [int(x) for x in _REF_RE.findall(am.group(1))]
        else:
            om = _CONTENTS_ONE_RE.search(body)
            cids = [int(om.group(1))] if om else []
        fonts = {
            nm.decode("ascii"): int(fid)
            for nm, fid in _FONT_REF_RE.findall(body)
        }
        xobjs = _xobj_map(body)
        rm_rot = _inherited(body, bodies, _ROTATE_RE)
        rot = int(rm_rot.group(1)) % 360 if rm_rot else 0
        mb = _inherited(body, bodies, _MEDIABOX_RE)
        x0, y0, w, h = (
            (float(mb.group(1)), float(mb.group(2)),
             float(mb.group(3)) - float(mb.group(1)),
             float(mb.group(4)) - float(mb.group(2)))
            if mb
            else (0.0, 0.0, 612.0, 792.0)
        )
        am2 = _ANNOTS_ARR_RE.search(body)
        if am2:
            annots = [int(x) for x in _REF_RE.findall(am2.group(1))]
        else:
            # the indirect spelling `/Annots N 0 R` (what Acrobat and
            # most real producers write): the array lives in its own
            # object
            rm2 = _ANNOTS_REF_RE.search(body)
            arr = bodies.get(int(rm2.group(1))) if rm2 else None
            annots = [int(x) for x in _REF_RE.findall(arr)] if arr else []
        # a page with NO /Contents is a real thing (blank separator
        # pages): keep it as an empty page so page_idx of everything
        # after it stays aligned with the document
        pages.append((oid, cids, fonts, xobjs, annots, (rot, x0, y0, w, h)))
    if not pages:
        return None
    page_by_id = {oid: rest for oid, *rest in pages}
    order = [tuple(rest) for _oid, *rest in pages]  # file order
    walk, from_catalog, truncated = _walk_page_tree(
        bodies, set(page_by_id), catalog_hint=_trailer_root(blanked, scanned)
    )
    if walk and not truncated and (
        from_catalog or set(walk) == set(page_by_id)
    ):
        # a CATALOG-rooted walk is authoritative (spec): pages it does
        # not reach are orphans or superseded by an incremental update
        # and are rightly excluded; a guessed root (no catalog parsed)
        # is trusted only when it reproduces exactly the parsed pages.
        # A walk that hit the node cap is authoritative for NOTHING —
        # trusting it would silently drop every page it never reached,
        # so file order stands in (damaged-file behavior).  Either way
        # the tree walk — not the first /Kids array by file position —
        # provides the order (multi-level page trees are the wild-PDF
        # norm).
        order = [page_by_id[k] for k in walk]
    groups: list[list[int]] = []
    fonts_per_page: list[dict[str, int]] = []
    xobjs_per_page: list[dict[str, int]] = []
    annots_per_page: list[list[int]] = []
    geom_per_page: list[tuple] = []
    damage_per_page: list[str | None] = []
    for cids, fonts, xobjs, annots, geom in order:
        group = []
        missing = 0
        for cid in cids:
            if cid not in owner:
                # dangling /Contents ref: a truncated download cut the
                # stream (round-7 ask #1 — the Common-Crawl norm), or an
                # update disowned it.  Salvage the page's OTHER streams
                # and mark the page damaged instead of demoting the
                # whole document to the stream-scan fallback.
                missing += 1
                continue
            group.append(owner[cid])
        groups.append(group)
        fonts_per_page.append(fonts)
        xobjs_per_page.append(xobjs)
        annots_per_page.append(annots)
        geom_per_page.append(geom)
        damage_per_page.append(
            f"{missing} content stream(s) missing" if missing else None
        )
    if not any(groups) and any(damage_per_page):
        # NOTHING salvageable through the graph (every page's content
        # dangles): the graph itself is no evidence — whole-file
        # fallback, the pre-round-7 behavior (pinned by the ObjStm
        # supersession test)
        return None
    return (groups, fonts_per_page, xobjs_per_page, annots_per_page,
            geom_per_page, damage_per_page, owner, bodies, objstm_oids)


_WALK_NODE_CAP = 4096


def _walk_page_tree(
    bodies: dict[int, bytes],
    page_ids: set[int],
    catalog_hint: int | None = None,
) -> tuple[list[int], bool, bool]:
    """(leaf page ids in tree order, rooted_at_catalog, truncated),
    walking /Kids depth-first from the catalog's /Pages root through
    intermediate /Type /Pages nodes.  The walk is ITERATIVE (explicit
    stack): a deep /Kids chain must hit the node cap and report
    ``truncated`` — a recursive walk would hit CPython's ~1000-frame
    recursion limit long before a 4096-node cap and turn a bomb guard
    into dead code.  Cycles are skipped via ``seen``.  The LAST catalog
    wins: incrementally-updated PDFs append a newer catalog at the end
    of the file, and its page tree supersedes the original's (bodies
    iterates in file order with last-definition bodies).  With no
    catalog, the first /Kids-bearing node stands in as a GUESSED root
    (the caller then demands the walk reproduce every parsed page
    before trusting it).

    ``catalog_hint``: the catalog object id resolved from the file's
    trailer (classic table or PDF 1.5 cross-reference stream — see
    :func:`_trailer_root`).  The trailer is the spec's authoritative
    root pointer, so it is preferred over the body scan whenever its
    catalog actually parses to a /Pages root."""
    root = None
    from_catalog = False
    if catalog_hint is not None:
        hb = bodies.get(catalog_hint)
        if hb is not None:
            pm = re.search(rb"/Pages\s+(\d+)\s+0\s+R", hb)
            if pm:
                root = int(pm.group(1))
                from_catalog = True
    if root is None:
        for oid, body in bodies.items():
            if b"/Type /Catalog" in body or b"/Type/Catalog" in body:
                pm = re.search(rb"/Pages\s+(\d+)\s+0\s+R", body)
                if pm:
                    root = int(pm.group(1))
                    from_catalog = True
    if root is None:
        for oid, body in bodies.items():
            if _KIDS_RE.search(body):
                root = oid
                break
    if root is None:
        return [], False, False
    out: list[int] = []
    seen: set[int] = set()
    stack: list[int] = [root]
    truncated = False
    while stack:
        oid = stack.pop()
        if oid in seen:
            continue
        if len(seen) >= _WALK_NODE_CAP:
            truncated = True
            break
        seen.add(oid)
        if oid in page_ids:
            out.append(oid)
            continue
        body = bodies.get(oid)
        if body is None:
            continue
        km = _KIDS_RE.search(body)
        if km:
            # push reversed so kids pop left-to-right (document order)
            stack.extend(
                int(ref) for ref in reversed(_REF_RE.findall(km.group(1)))
            )
    return out, from_catalog, truncated


def _decode_stream(head: bytes, data: bytes) -> str:
    return _apply_filters(head, data).decode("latin-1")


_BI_RE = re.compile(r"(?<![A-Za-z0-9])BI(?=[\s/])")
_ID_RE = re.compile(r"(?<![A-Za-z0-9])ID(?=[\s\x00])")
_EI_RE = re.compile(r"[\s\x00]EI(?=[\s\x00]|$)")
_BI_W_RE = re.compile(r"/W(?:idth)?\s+(\d+)")
_BI_H_RE = re.compile(r"/H(?:eight)?\s+(\d+)")
_BI_BPC_RE = re.compile(r"/(?:BPC|BitsPerComponent)\s+(\d+)")
_BI_CS_RE = re.compile(r"/(?:CS|ColorSpace)\s*/(\w+)")
_BI_F_RE = re.compile(r"/(?:F|Filter)\b")
_BI_IM_RE = re.compile(r"/(?:IM|ImageMask)\s+true\b")
_CS_CHANNELS = {
    "RGB": 3, "DeviceRGB": 3, "CalRGB": 3,
    "G": 1, "DeviceGray": 1, "CalGray": 1, "I": 1, "Indexed": 1,
    "CMYK": 4, "DeviceCMYK": 4,
}
# bytes that resume a content stream after EI: an operand (number,
# string, name, array, dict, hex string) or an operator mnemonic —
# coincidental ' EI ' inside sample data is typically followed by more
# high-bit/control binary, which this rejects
_EI_RESUME_RE = re.compile(r"[\s\x00]*(?:$|[0-9+\-./(<\[\]>)]|[A-Za-z'\"]{1,3}(?![A-Za-z'\"])|%)")


def _inline_data_len(head: str) -> int | None:
    """Expected UNFILTERED inline-image sample length from the BI dict
    (spec 8.9.7: ceil(W * BPC * channels / 8) bytes per row, H rows);
    None when a /Filter is declared (compressed length unknowable) or
    the dims/colorspace do not parse."""
    if _BI_F_RE.search(head):
        return None
    wm, hm = _BI_W_RE.search(head), _BI_H_RE.search(head)
    if not (wm and hm):
        return None
    if _BI_IM_RE.search(head):
        # /ImageMask true (spec 8.9.6.2): 1 bit per pixel, one channel,
        # no colorspace — BPC, if present at all, must be 1.  Defaulting
        # to 8 here computed an 8x-too-long span and skipped the real
        # terminator (round-7 review finding).
        bpc, chan = 1, 1
    else:
        bm = _BI_BPC_RE.search(head)
        bpc = int(bm.group(1)) if bm else 8
        cm = _BI_CS_RE.search(head)
        if cm is not None and cm.group(1) not in _CS_CHANNELS:
            return None
        chan = _CS_CHANNELS[cm.group(1)] if cm else 1
    return int(hm.group(1)) * ((int(wm.group(1)) * bpc * chan + 7) // 8)


def _strip_inline_images(content: str) -> str:
    """Remove ``BI <dict> ID <binary> EI`` inline-image spans (spec
    8.9.7) from a decoded content stream before text tokenization: the
    image's binary sample data is opaque and can contain byte runs that
    parse as text operators (``(...)Tj``), which would mint phantom text
    runs — mojibake straight into a training corpus.  The terminator is
    the spec's: whitespace + ``EI`` + whitespace/EOF — a spec-known
    AMBIGUITY, since nothing escapes a coincidental `` EI `` inside the
    sample bytes (round-6 advice).  Disambiguation, in order: for
    UNFILTERED data the sample length is computed from /W /H /BPC /CS
    and the scan starts past it; otherwise a candidate terminator is
    accepted only when the bytes after it resume as content-stream
    operators (an early `` EI `` inside binary noise is followed by more
    binary).  When every candidate is rejected the FIRST one stands
    (the pre-round-7 behavior — better one clipped image than a dropped
    stream).  A span with no terminator at all drops the rest of the
    stream (truncated file: opaque bytes are never text)."""
    m = _BI_RE.search(content)
    if m is None:
        return content
    out: list[str] = []
    pos = 0
    while m is not None:
        out.append(content[pos : m.start()])
        idm = _ID_RE.search(content, m.end())
        if idm is None:  # no data section: malformed; drop the rest
            return "".join(out)
        data_start = idm.end() + 1  # one whitespace byte after ID
        expected = _inline_data_len(content[m.end() : idm.start()])
        if expected is not None:
            eim = _EI_RE.search(content, data_start + expected)
        else:
            eim = first = _EI_RE.search(content, data_start)
            while eim is not None and not _EI_RESUME_RE.match(
                content, eim.end()
            ):
                eim = _EI_RE.search(content, eim.end())
            if eim is None:
                eim = first  # all candidates rejected: first one stands
        if eim is None:
            return "".join(out)
        pos = eim.end()
        m = _BI_RE.search(content, pos)
    out.append(content[pos:])
    return "".join(out)


_FORM_DEPTH_CAP = 8
_TYPE_FORM_RE = re.compile(rb"/Subtype\s*/Form\b")


def _xobj_map(body: bytes) -> dict[str, int]:
    """name -> object id from a /Resources /XObject sub-dictionary."""
    xm = _XOBJ_DICT_RE.search(body)
    if not xm:
        return {}
    return {
        nm.decode("latin-1"): int(xid)
        for nm, xid in _NAME_REF_RE.findall(xm.group(1))
    }


def _form_entry(
    foid: int,
    owner: dict[int, int],
    bodies: dict[int, bytes],
    scanned: list,
    cache: dict,
) -> tuple[str, list, dict[str, int]]:
    """(decoded content, font refs, xobject refs) of one Form XObject,
    decoded ONCE per document (the corpus letterhead is drawn on every
    page — without the cache a 5-page doc inflates the same stream 5
    times on the extraction hot path).  Only ``/Subtype /Form`` streams
    yield content: an IMAGE XObject's bytes are opaque sample data that
    must never be tokenized as text (same stance as inline images), and
    one with an undecodable filter (DCT, JPX...) yields '' instead of
    aborting the document — before v12 its ``Do`` was a no-op, and a
    scanned-JPEG page must keep extracting its real text."""
    if foid not in cache:
        content = ""
        ffonts: list = []
        fxobjs: dict[str, int] = {}
        si = owner.get(foid)
        if si is not None and _TYPE_FORM_RE.search(scanned[si][1]):
            try:
                content = _decode_stream(scanned[si][1], scanned[si][2])
            except ValueError:
                content = ""
            fbody = bodies.get(foid, b"")
            ffonts = _FONT_REF_RE.findall(fbody)
            fxobjs = _xobj_map(fbody)
        cache[foid] = (content, ffonts, fxobjs)
    return cache[foid]


def _splice_forms(
    text: str,
    xobjs: dict[str, int],
    owner: dict[int, int],
    bodies: dict[int, bytes],
    scanned: list,
    fonts: dict[str, int],
    cache: dict,
    seen: frozenset = frozenset(),
    budget: "list[int] | None" = None,
) -> str:
    """Replace each ``/Name Do`` invocation with the decoded content of
    its Form XObject (spec 8.10) — a stream of page-description operators
    drawn at the invocation point; text inside forms (letterheads,
    stamps, PDF/A headers) is corpus v12's dialect addition.  The form's
    own ``/Resources /Font`` entries merge into the page's font map
    (a ``/F9`` declared only inside the form must still resolve its
    ``Tf``; ``setdefault`` keeps page-level names authoritative on a
    clash).  Nested invocations resolve against the UNION of the page's
    and the form's XObject names (spec 8.10.3 resource fallback: a form
    with no own /Resources inherits the page's), the form's own names
    winning a clash; expansion recurses under a depth cap and a cycle
    guard, and a shared ``budget`` (one document's ``_MAX_DECODED``)
    bounds TOTAL spliced size — a fan-out amplification bomb (tiny
    chained forms invoking each other 30× at depth 7 would expand to
    30^7 × leaf) degrades to dropped invocations, never executor OOM.
    The accounting is deliberately CONSERVATIVE: nested content charges
    at every ancestor level (an expansion spliced k levels deep is
    debited up to k times) and an expansion rejected at an outer level
    does not refund its inner charges — legitimate documents sit orders
    of magnitude under the budget, and over-counting only ever drops
    bomb-shaped content earlier.  A dangling or
    non-Form ref drops the ``Do`` silently: the operator pair must not
    survive into text heuristics, and there is nothing to mint."""
    if budget is None:
        budget = [_MAX_DECODED]
    for name, foid in xobjs.items():
        pat = re.compile(r"/" + re.escape(name) + r"\s+Do")
        n = len(pat.findall(text))
        if not n:
            continue
        if foid in seen or len(seen) >= _FORM_DEPTH_CAP:
            repl = ""
        else:
            content, ffonts, fxobjs = _form_entry(
                foid, owner, bodies, scanned, cache
            )
            for nm, fid in ffonts:
                fonts.setdefault(nm.decode("ascii"), int(fid))
            repl = _splice_forms(
                content, {**xobjs, **fxobjs}, owner, bodies, scanned,
                fonts, cache, seen | {foid}, budget,
            )
        if n * len(repl) > budget[0]:
            repl = ""
        else:
            budget[0] -= n * len(repl)
        text = pat.sub(lambda _m: repl, text)
    return text


def _annot_runs(
    annot_ids: list,
    bodies: dict,
    string_decryptor=None,
    objstm_oids: frozenset = frozenset(),
) -> list[tuple[float, float, float, str]]:
    """Text runs for a page's visible FreeText annotations (corpus v15):
    margin notes a rendering pipeline reads as page text — the reference
    OCRs RENDERED pages, so a visible note box is document text to it.
    Position is the /Rect lower-left corner (corners may be given in
    any order per spec 7.9.5 — normalized here so a top-first rect does
    not reorder the note into the middle of the page); size is the body
    default (the /DA default-appearance string's font choice is
    cosmetic at this altitude).  Non-FreeText annotation kinds (Link,
    Popup, sticky-note /Text whose box renders as an icon, not its
    content) yield nothing, and so do HIDDEN and NOVIEW flags (spec
    12.5.3 /F bits 2 and 6): a box the renderer never paints is not
    page text."""
    runs: list[tuple[float, float, float, str]] = []
    for aid in annot_ids:
        body = bodies.get(aid)
        if body is None or not _FREETEXT_RE.search(body):
            continue
        fm = _ANNOT_FLAGS_RE.search(body)
        if fm and int(fm.group(1)) & 0x22:  # Hidden (2) | NoView (32)
            continue
        rm = _RECT_RE.search(body)
        if not rm:
            continue
        raw = None
        lm = _ANNOT_LIT_RE.search(body)
        if lm:
            raw = _unescape_literal(
                lm.group(1).decode("latin-1")
            ).encode("latin-1")
        else:
            hm = _ANNOT_HEX_RE.search(body)
            if hm:
                raw = _hex_to_bytes(hm.group(1).decode("ascii"))
        if not raw:
            continue
        if string_decryptor is not None and aid not in objstm_oids:
            # spec 7.6.2: dict strings carry ciphertext in an encrypted
            # file, keyed by the ANNOTATION object's number — EXCEPT
            # strings inside object streams (spec 7.5.7), which are
            # protected by the ObjStm's own stream encryption and are
            # already plaintext after stream decryption
            raw = string_decryptor(aid, raw)
            if not raw:
                continue
            text = _text_from_string_bytes(raw)
            # a non-conforming producer that left the string plaintext
            # makes "decryption" emit high-entropy noise: legit notes
            # contain NO control characters, while random bytes land
            # one in the C0/C1 ranges with probability ~1 - 0.75^n —
            # a single control char suppresses (never byte salad)
            if any(
                (ch < " " and ch not in "\t\n\r") or "\x7f" <= ch <= "\x9f"
                for ch in text
            ):
                continue
        else:
            text = _text_from_string_bytes(raw)
        if text:
            x = min(float(rm.group(1)), float(rm.group(3)))
            y = min(float(rm.group(2)), float(rm.group(4)))
            runs.append((10.0, x, y, text))
    return runs


def _document_pages(
    payload: bytes,
    string_decryptor=None,
) -> list[tuple[str, dict[str, dict[int, str]], list]]:
    """Per page, in page order: (decompressed content, {font_name ->
    ToUnicode CID table}, visible-annotation text runs, (rotation,
    mediabox width, mediabox height), damage note or None — set when a
    page's content streams were missing (truncated file) or undecodable
    (corrupt bytes): the page is SALVAGED with whatever decoded, never
    the whole document dropped).

    ``string_decryptor`` (from :func:`_decrypt_payload`) decrypts
    annotation /Contents strings at read time on formerly-encrypted
    documents — stream decryption leaves dict strings as ciphertext,
    and a string that fails decryption is suppressed, never emitted as
    byte salad.

    Streams are selected through the object graph (page objects'
    ``/Contents`` refs, pages ordered by ``/Kids``) so NON-content
    streams — XMP metadata, ToUnicode CMaps, embedded files — never
    become phantom pages; fonts bearing a /ToUnicode ref get their CMap
    stream parsed once per document.  Only when no page graph parses
    does the scan fall back to treating every stream as a page (pre-v5
    dialect, truncated/damaged files)."""
    scanned = _scan_streams(payload)
    graph = _page_graph(payload, scanned)
    if graph is None:
        # damaged-file fallback: every stream is a page — EXCEPT
        # cross-reference streams (binary entry tables, corpus v6) and
        # object streams (packed dictionaries, corpus v7): both are
        # structure, never content.  An undecodable stream (corrupt
        # bytes) becomes an EMPTY damaged page, not a dead document.
        out = []
        for _s, h, d, _sp in scanned:
            if _TYPE_XREF_RE.search(h) or _TYPE_OBJSTM_RE.search(h):
                continue
            try:
                text, dmg = _decode_stream(h, d), None
            except ValueError as exc:
                text, dmg = "", f"undecodable stream: {exc}"
            out.append((text, {}, [], (0, 0.0, 0.0, 612.0, 792.0), dmg))
        return out
    (groups, fonts_per_page, xobjs_per_page, annots_per_page,
     geom_per_page, damage_per_page, owner, bodies, objstm_oids) = graph
    cmap_cache: dict[int, dict[int, str] | None] = {}
    form_cache: dict[int, tuple] = {}  # one decode per form per document
    splice_budget = [_MAX_DECODED]  # ONE budget for the whole document:
    # a per-page budget would let an N-page doc hold N near-limit
    # expansions in memory at once (the pages list accumulates them)

    def _cmap_for(font_oid: int):
        if font_oid not in cmap_cache:
            cm = None
            body = bodies.get(font_oid)
            tm = _TOUNICODE_RE.search(body) if body is not None else None
            if tm:
                si = owner.get(int(tm.group(1)))
                if si is not None:
                    try:
                        cm = _parse_tounicode(
                            _decode_stream(scanned[si][1], scanned[si][2])
                        )
                    except ValueError:
                        cm = None  # corrupt CMap stream: treated as absent
            if cm is None and body is not None and _TYPE0_RE.search(body):
                # composite font with no (usable) ToUnicode: glyph-only —
                # the one documented dialect exclusion, now exercised
                # end-to-end by corpus v8's cid_noto pages
                cm = GLYPH_ONLY
            elif cm is None and body is not None:
                # corpus v13: a simple font may declare /Encoding
                # (WinAnsi/MacRoman base + /Differences glyph remaps) —
                # its strings are byte codes through that table
                cm = _encoding_table(body, bodies)
            cmap_cache[font_oid] = cm
        return cmap_cache[font_oid]

    pages: list = []
    for group, fonts, xobjs, annots, geom, damage in zip(
        groups, fonts_per_page, xobjs_per_page, annots_per_page,
        geom_per_page, damage_per_page,
    ):
        texts: list[str] = []
        for si in group:
            try:
                texts.append(_decode_stream(scanned[si][1], scanned[si][2]))
            except ValueError as exc:
                # corrupt content bytes (damaged download): salvage the
                # page's other streams, mark the page — one bad stream
                # must cost one page, never the document (round-7 ask #1)
                damage = (
                    f"{damage}; " if damage else ""
                ) + f"undecodable content stream: {exc}"
        text = "\n".join(texts)
        if xobjs:
            # corpus v12: Form XObject content splices in at its `Do`
            # invocation; the form's own fonts merge into ``fonts``
            # BEFORE the cmap resolution below, so a CID font declared
            # only inside a form still decodes
            text = _splice_forms(
                text, xobjs, owner, bodies, scanned, fonts, form_cache,
                budget=splice_budget,
            )
        cmaps = {
            name: cm
            for name, foid in fonts.items()
            if (cm := _cmap_for(foid)) is not None
        }
        pages.append((
            text,
            cmaps,
            _annot_runs(annots, bodies, string_decryptor, objstm_oids),
            geom,
            damage,
        ))
    return pages




def _cluster_columns(runs: list[tuple[float, float, float, str]]) -> list[list[tuple[float, float, float, str]]]:
    xs = sorted({r[1] for r in runs})
    col_starts: list[float] = []
    for v in xs:
        if not col_starts or v - col_starts[-1] > _COLUMN_GAP:
            col_starts.append(v)
    cols: list[list[tuple[float, float, float, str]]] = [[] for _ in col_starts]
    for r in runs:
        # assign to the rightmost column start <= x
        idx = 0
        for i, cs in enumerate(col_starts):
            if r[1] >= cs - 1e-6:
                idx = i
        cols[idx].append(r)
    return cols


def _heading_level(size: float, body: float) -> int:
    r = size / body if body else 1.0
    if r >= 2.2:
        return 1
    if r >= 1.7:
        return 2
    if r >= 1.35:
        return 3
    return 0


def _line_sort_key(r: tuple[float, float, float, str]):
    # y descending, then (x, text) ascending — exactly the order the old
    # dict-of-y grouping produced (sorted(by_y) reverse + sorted((x, text))
    # per line, including the text tie-break for same-x runs)
    return (-r[2], r[1], r[3])


def _column_blocks(
    col: list[tuple[float, float, float, str]], body_size: float
) -> list[str]:
    """Lines (sorted top-down; same-y runs merged left-to-right) -> blocks.

    Round-8: one sort + sequential grouping instead of two dicts + a sort
    per y (the per-run setdefault/max pair profiled at 2/3 of this
    function); run sizes are non-negative (the Tf regex has no sign), so
    the group max equals the old ``max(sizes.get(y, 0.0), size)``."""
    srt = sorted(col, key=_line_sort_key)
    lines = []
    i = 0
    n = len(srt)
    while i < n:
        size, _x, y, text = srt[i]
        parts = [text]
        j = i + 1
        while j < n and srt[j][2] == y:  # 0.0 == -0.0: same line, as before
            if srt[j][0] > size:
                size = srt[j][0]
            parts.append(srt[j][3])
            j += 1
        lines.append((y, size, " ".join(parts)))
        i = j

    blocks: list[str] = []
    cur: list[str] = []
    cur_size = None
    prev_y = None

    def _flush() -> None:
        nonlocal cur, cur_size
        if not cur:
            return
        level = _heading_level(cur_size, body_size) if cur_size else 0
        if level:
            blocks.append("#" * level + " " + " ".join(cur))
        elif all(_LIST_LINE.match(ln) for ln in cur):
            blocks.append("\n".join(cur))
        else:
            blocks.append(" ".join(cur))
        cur = []
        cur_size = None

    for y, size, text in lines:
        lvl = _heading_level(size, body_size)  # hoisted: one call per line
        new_block = (
            prev_y is not None and (prev_y - y) > _LINE_GAP
        ) or (cur_size is not None and size != cur_size)
        if new_block or lvl:
            _flush()
        cur.append(text)
        cur_size = size
        prev_y = y
        if lvl:
            _flush()
            prev_y = None  # heading gap shouldn't merge next block
    _flush()
    return blocks


# Acrobat's documented tolerance (ISO 32000 Annex C / implementation
# notes): the %PDF header may be preceded by up to 1024 bytes of junk —
# proxy banners, chunked-encoding residue, a mail wrapper — and offsets
# are then measured from the HEADER.
_PDF_SNIFF_WINDOW = 1024
# real PDF structure after a junk-prefixed header candidate: an object
# header token `N G obj` with hard token boundaries — a bare substring
# test matched English words ("objects") and misrouted HTML that merely
# mentions "%PDF-" (round-7 review finding)
_OBJ_CORROBORATION_RE = re.compile(rb"(?<![0-9A-Za-z])\d+\s+\d+\s+obj(?![A-Za-z0-9])")


def pdf_header_offset(payload) -> "int | None":
    """Byte offset of the ``%PDF`` header, or None when the payload is
    not a PDF.  THE one sniffing rule — the document-level dispatcher
    (:mod:`markmuse_spark.kernel.extract`) routes on it and
    :func:`extract_pages` slices at it, so the two can never drift.

    Offset 0 is the plain magic test (the common case, no copy).  A
    junk-prefixed header (within the first 1024 bytes) is accepted only
    with corroborating PDF structure — an ``N G obj`` token after the
    header — so an HTML page that merely MENTIONS ``%PDF-`` in its head
    is never misrouted; a real junk-prefixed PDF without a single
    parseable object would die in the kernel anyway.  Accepts bytes or
    a zero-copy memoryview (PEP 3118 slice equality)."""
    if payload[:4] == b"%PDF":
        return 0
    head = bytes(payload[: _PDF_SNIFF_WINDOW + 5])
    idx = head.find(b"%PDF-")
    if idx <= 0:
        return None
    window = bytes(payload[idx : idx + 8192])
    return idx if _OBJ_CORROBORATION_RE.search(window) else None


def extract_pages(payload: bytes) -> list[dict[str, Any]]:
    """Extract the page list (ocr_pages shape) from one PDF payload.

    Pages salvaged from a damaged file (truncated download, corrupt
    content bytes — the Common-Crawl norm) carry an extra ``"damage"``
    note; the document-level caller (:func:`markmuse_spark.kernel.
    extract.extract_document`) folds those into a deterministic partial-
    extraction error while KEEPING the recovered pages' markdown."""
    if not payload:
        raise ValueError("empty payload")
    if not isinstance(payload, bytes):
        # the Spark operator hands zero-copy memoryview slices of the
        # Arrow batch; this kernel's byte surgery (bytes.find, bytearray
        # blanking, stored slices) wants real bytes, so the PDF path —
        # ~20% of a web corpus — materializes its payload exactly once
        # here (the HTML path never copies; see html_extract)
        payload = bytes(payload)
    if not payload.startswith(b"%PDF"):
        # junk before the header (corpus v17.1; Annex C tolerance) —
        # slice FROM THE HEADER: prepended junk leaves the xref offsets
        # header-relative so they land after the slice; offsets that
        # were junk-relative at write time miss and fall through to the
        # body-scan recovery.  Same rule the dispatcher routed on —
        # shared helper, no drift.
        idx = pdf_header_offset(payload)
        if not idx:
            raise ValueError("not a PDF payload")
        payload = payload[idx:]
    str_fn = None
    if b"/Encrypt" in payload:  # cheap pre-filter; the real check parses
        payload, str_fn = _decrypt_payload(payload)  # no-op on fluke
    pages: list[dict[str, Any]] = []
    # annotation /Contents strings live in object DICTS, which stream
    # decryption does not rewrite — str_fn decrypts them at read time
    # (spec 7.6.2: every string encrypts with per-object keys)
    doc_pages = _document_pages(payload, string_decryptor=str_fn)
    if not doc_pages:
        raise ValueError("no content streams")
    for page_idx, (stream, cmaps, annot_runs, geom, damage) in enumerate(
        doc_pages
    ):
        runs = _parse_runs(stream, cmaps) + annot_runs
        rot, x0, y0, w, h = geom
        if rot:  # corpus v16: cluster on the VISUAL (rotated) coords
            runs = _rotate_runs(runs, rot, x0, y0, w, h)
        if not runs:
            page: dict[str, Any] = {
                "page_idx": page_idx, "markdown": "", "images": [],
            }
            if damage:
                # round-7 ask #1: a salvaged (truncated/corrupt) page is
                # a STRUCTURED partial result — the caller aggregates
                # these into the document's error note while keeping the
                # recovered pages' markdown
                page["damage"] = damage
            pages.append(page)
            continue
        counts = Counter(r[0] for r in runs)
        top = max(counts.values())
        body_size = min(s for s, c in counts.items() if c == top)
        blocks: list[str] = []
        for col in _cluster_columns(runs):
            if col:
                blocks.extend(_column_blocks(col, body_size))
        page = {
            "page_idx": page_idx, "markdown": "\n\n".join(blocks), "images": [],
        }
        if damage:  # partially-salvaged page (some streams recovered)
            page["damage"] = damage
        pages.append(page)
    return pages
