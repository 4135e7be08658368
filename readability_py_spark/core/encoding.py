"""Source-bytes → unicode conversion with the reference's detection
cascade (UnicodeDammit, readability.py:2996-3199):

1. BOM / UTF-16/32 pattern sniff, re-encoding sniffed data to UTF-8
   (readability.py:3107-3172) — including its quirk that the *sniffed*
   encoding is later retried against the already-re-encoded bytes.
2. XML declaration / <meta charset> regex scan → declared encoding.
3. Try override encodings, declared, sniffed, then chardet (gated
   optional import, exactly like the reference's — absent in this
   sandbox so parity is unaffected, active on a cluster that installs
   it), then utf-8 and windows-1252 (readability.py:3021-3038).
4. For latin-ish proposals, MS smart-quote bytes 0x80-0x9f are replaced
   with HTML entities *before* decoding (readability.py:3043-3068,
   3217-3248) — smartQuotesTo='html' since the HTML soup is used
   (readability.py:2758-2762).
"""

from __future__ import annotations

import codecs
import re

# Optional auto-detection library, mirroring the reference's gated
# import (readability.py:2976-2982). Absent in this sandbox for BOTH
# engines (the python2 oracle can't import it either), so parity tests
# never exercise it; on a cluster where the reference ran with chardet
# installed, this closes the undeclared-charset divergence.
try:  # pragma: no cover - exercised via a fake module in tests
    import chardet as _chardet
except ImportError:
    _chardet = None

CHARSET_ALIASES = {"macintosh": "mac-roman", "x-sjis": "shift-jis"}

# MS smart-quote byte → (html entity name, hex codepoint) or literal
# (readability.py:3217-3248)
MS_CHARS: dict[bytes, tuple[str, str] | str] = {
    b"\x80": ("euro", "20AC"),
    b"\x81": " ",
    b"\x82": ("sbquo", "201A"),
    b"\x83": ("fnof", "192"),
    b"\x84": ("bdquo", "201E"),
    b"\x85": ("hellip", "2026"),
    b"\x86": ("dagger", "2020"),
    b"\x87": ("Dagger", "2021"),
    b"\x88": ("circ", "2C6"),
    b"\x89": ("permil", "2030"),
    b"\x8a": ("Scaron", "160"),
    b"\x8b": ("lsaquo", "2039"),
    b"\x8c": ("OElig", "152"),
    b"\x8d": "?",
    b"\x8e": ("#x17D", "17D"),
    b"\x8f": "?",
    b"\x90": "?",
    b"\x91": ("lsquo", "2018"),
    b"\x92": ("rsquo", "2019"),
    b"\x93": ("ldquo", "201C"),
    b"\x94": ("rdquo", "201D"),
    b"\x95": ("bull", "2022"),
    b"\x96": ("ndash", "2013"),
    b"\x97": ("mdash", "2014"),
    b"\x98": ("tilde", "2DC"),
    b"\x99": ("trade", "2122"),
    b"\x9a": ("scaron", "161"),
    b"\x9b": ("rsaquo", "203A"),
    b"\x9c": ("oelig", "153"),
    b"\x9d": "?",
    b"\x9e": ("#x17E", "17E"),
    b"\x9f": ("Yuml", ""),
}

_MS_BYTE_RE = re.compile(b"([\x80-\x9f])")
_XML_DECL_RE = re.compile(rb"^<\?.*encoding=['\"](.*?)['\"].*\?>")
_META_CHARSET_RE = re.compile(rb"<\s*meta[^>]+charset=([^>]*?)[;'\">]", re.I)

_SNIFF_OVERRIDABLE = (
    "iso-10646-ucs-2",
    "ucs-2",
    "csunicode",
    "iso-10646-ucs-4",
    "ucs-4",
    "csucs4",
    "utf-16",
    "utf-32",
    "utf_16",
    "utf_32",
    "utf16",
    "u16",
)


class SourceDecoder:
    """One-shot decode of a document's raw bytes, mirroring
    UnicodeDammit's constructor flow."""

    def __init__(self, markup: bytes | str, override_encodings=()):
        self.declared_html_encoding: str | None = None
        self.tried: list[str] = []
        self.original_encoding: str | None = None

        if isinstance(markup, str):
            self.unicode = markup
            return

        self.markup, document_encoding, sniffed = self._detect(markup)

        if self.markup == b"":
            self.unicode = ""
            return

        u = None
        for enc in override_encodings:
            u = self._convert_from(enc)
            if u is not None:
                break
        if u is None:
            for enc in (document_encoding, sniffed):
                u = self._convert_from(enc)
                if u is not None:
                    break
        # auto-detection fallback (readability.py:3031-3032): tried
        # after declared/sniffed, before the utf-8/cp1252 last resort;
        # only while markup is still bytes (a successful _convert_from
        # replaces self.markup with str)
        if u is None and _chardet is not None and isinstance(self.markup, bytes):
            u = self._convert_from(_chardet.detect(self.markup)["encoding"])
        if u is None:
            for enc in ("utf-8", "windows-1252"):
                u = self._convert_from(enc)
                if u is not None:
                    break
        self.unicode = u
        if u is None:
            self.original_encoding = None

    # -- steps -----------------------------------------------------
    def _detect(self, data: bytes):
        sniffed = None
        try:
            if data[:4] == b"\x4c\x6f\xa7\x94":
                data = _ebcdic_to_ascii(data)
            elif data[:4] == b"\x00\x3c\x00\x3f":
                sniffed = "utf-16be"
                data = data.decode("utf-16be").encode("utf-8")
            elif (
                len(data) >= 4
                and data[:2] == b"\xfe\xff"
                and data[2:4] != b"\x00\x00"
            ):
                sniffed = "utf-16be"
                data = data[2:].decode("utf-16be").encode("utf-8")
            elif data[:4] == b"\x3c\x00\x3f\x00":
                sniffed = "utf-16le"
                data = data.decode("utf-16le").encode("utf-8")
            elif (
                len(data) >= 4
                and data[:2] == b"\xff\xfe"
                and data[2:4] != b"\x00\x00"
            ):
                sniffed = "utf-16le"
                data = data[2:].decode("utf-16le").encode("utf-8")
            elif data[:4] == b"\x00\x00\x00\x3c":
                sniffed = "utf-32be"
                data = data.decode("utf-32be").encode("utf-8")
            elif data[:4] == b"\x3c\x00\x00\x00":
                sniffed = "utf-32le"
                data = data.decode("utf-32le").encode("utf-8")
            elif data[:4] == b"\x00\x00\xfe\xff":
                sniffed = "utf-32be"
                data = data[4:].decode("utf-32be").encode("utf-8")
            elif data[:4] == b"\xff\xfe\x00\x00":
                sniffed = "utf-32le"
                data = data[4:].decode("utf-32le").encode("utf-8")
            elif data[:3] == b"\xef\xbb\xbf":
                sniffed = "utf-8"
                data = data[3:].decode("utf-8").encode("utf-8")
            else:
                sniffed = "ascii"
        except Exception:
            pass

        xml_encoding = None
        m = _XML_DECL_RE.match(data)
        if not m:
            m = _META_CHARSET_RE.search(data)
        if m is not None:
            xml_encoding = m.groups()[0].lower().decode("ascii", "replace")
            self.declared_html_encoding = xml_encoding
            if sniffed and xml_encoding in _SNIFF_OVERRIDABLE:
                xml_encoding = sniffed
        return data, xml_encoding, sniffed

    def _convert_from(self, proposed):
        proposed = find_codec(proposed)
        if not proposed or proposed in self.tried:
            return None
        self.tried.append(proposed)
        markup = self.markup
        if proposed.lower() in ("windows-1252", "iso-8859-1", "iso-8859-2"):
            markup = _MS_BYTE_RE.sub(_sub_ms_char, markup)
        try:
            u = _strip_bom_and_decode(markup, proposed)
        except Exception:
            return None
        self.markup = u
        self.original_encoding = proposed
        return u


def _sub_ms_char(m) -> bytes:
    # smartQuotesTo='html', the HTML soup's setting
    sub = MS_CHARS.get(m.group(1))
    if isinstance(sub, tuple):
        sub = "&%s;" % sub[0]
    return sub.encode("ascii")


def _strip_bom_and_decode(data: bytes, encoding: str) -> str:
    # readability.py:3082-3105
    if len(data) >= 4 and data[:2] == b"\xfe\xff" and data[2:4] != b"\x00\x00":
        encoding = "utf-16be"
        data = data[2:]
    elif len(data) >= 4 and data[:2] == b"\xff\xfe" and data[2:4] != b"\x00\x00":
        encoding = "utf-16le"
        data = data[2:]
    elif data[:3] == b"\xef\xbb\xbf":
        encoding = "utf-8"
        data = data[3:]
    elif data[:4] == b"\x00\x00\xfe\xff":
        encoding = "utf-32be"
        data = data[4:]
    elif data[:4] == b"\xff\xfe\x00\x00":
        encoding = "utf-32le"
        data = data[4:]
    return data.decode(encoding)


def find_codec(charset):
    # readability.py:3175-3189
    if charset is None:
        return None
    value = CHARSET_ALIASES.get(charset, charset)
    return (
        _codec(value)
        or (charset and _codec(charset.replace("-", "")))
        or (charset and _codec(charset.replace("-", "_")))
        or charset
    )


def _codec(charset):
    if not charset:
        return charset
    try:
        codecs.lookup(charset)
        return charset
    except (LookupError, ValueError):
        return None


_EBCDIC_MAP = None


def _ebcdic_to_ascii(s: bytes) -> bytes:
    global _EBCDIC_MAP
    if _EBCDIC_MAP is None:
        emap = (
            0,1,2,3,156,9,134,127,151,141,142,11,12,13,14,15,
            16,17,18,19,157,133,8,135,24,25,146,143,28,29,30,31,
            128,129,130,131,132,10,23,27,136,137,138,139,140,5,6,7,
            144,145,22,147,148,149,150,4,152,153,154,155,20,21,158,26,
            32,160,161,162,163,164,165,166,167,168,91,46,60,40,43,33,
            38,169,170,171,172,173,174,175,176,177,93,36,42,41,59,94,
            45,47,178,179,180,181,182,183,184,185,124,44,37,95,62,63,
            186,187,188,189,190,191,192,193,194,96,58,35,64,39,61,34,
            195,97,98,99,100,101,102,103,104,105,196,197,198,199,200,
            201,202,106,107,108,109,110,111,112,113,114,203,204,205,
            206,207,208,209,126,115,116,117,118,119,120,121,122,210,
            211,212,213,214,215,216,217,218,219,220,221,222,223,224,
            225,226,227,228,229,230,231,123,65,66,67,68,69,70,71,72,
            73,232,233,234,235,236,237,125,74,75,76,77,78,79,80,81,
            82,238,239,240,241,242,243,92,159,83,84,85,86,87,88,89,
            90,244,245,246,247,248,249,48,49,50,51,52,53,54,55,56,57,
            250,251,252,253,254,255,
        )
        _EBCDIC_MAP = bytes(emap)
    return s.translate(_EBCDIC_MAP)
