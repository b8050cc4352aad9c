"""Office/ebook text extraction: DOCX, ODT, EPUB (ZIP + XML, stdlib).

The modern document formats are all the same shape — a ZIP container
holding XML — so the PDF module's role extends to them with zipfile +
ElementTree only:

* **DOCX** (WordprocessingML): ``word/document.xml`` — ``w:t`` runs,
  ``w:p`` paragraphs, ``w:br``/``w:cr`` line breaks, ``w:tab`` tabs.
* **ODT** (OpenDocument): ``content.xml`` — ``text:p``/``text:h``
  paragraphs with nested spans, ``text:s`` repeated spaces,
  ``text:tab``, ``text:line-break``.
* **EPUB**: ``META-INF/container.xml`` → OPF package → spine-ordered
  XHTML content documents, each stripped with a real ``html.parser``
  walk (entities decoded, script/style skipped); falls back to
  name-ordered ``.xhtml/.html`` members when the OPF is broken
  (corpus reality).

XML safety: stdlib parsers expand internal entities, so any member
containing a DOCTYPE/ENTITY declaration refuses typed BEFORE parsing —
a billion-laughs blob costs a quarantine row, not executor memory.
Office XML is machine-generated and never legitimately carries a DTD.

``extract_document_text`` is the one dispatch kernel over a blob frame
(PDF included, via ``operators/pdf.py``): ``(id, kind, text, error)``
with the package quarantine contract. Use ``probe_bytes`` /
``read_media`` to inventory first — ZIP-based documents probe as
``docx``/``odt``/``epub`` by container sniff.

Reference scope note: no document surface in the reference
(pinecone-io/pinecone-datasets); Layer-B extension (SURVEY.md §2
"beyond the reference").
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .media_codecs import UnsupportedMediaError

__all__ = [
    "rtf_to_text",
    "docx_to_text",
    "odt_to_text",
    "epub_to_text",
    "document_to_text",
    "extract_document_text",
    "sniff_zip_document",
]

_DTD_RE = re.compile(rb"<!\s*(DOCTYPE|ENTITY)", re.I)


def _safe_xml_root(data: bytes):
    """ElementTree root with the DTD/entity refusal guard (stdlib
    parsers expand internal entities; office XML never carries a DTD,
    so presence of one is hostile or broken either way)."""
    import xml.etree.ElementTree as ET

    if _DTD_RE.search(data):
        raise UnsupportedMediaError(
            "XML with DOCTYPE/ENTITY declarations refused (entity"
            " expansion guard)"
        )
    try:
        return ET.fromstring(data)
    except ET.ParseError as e:
        raise UnsupportedMediaError(f"malformed XML: {e}") from e


def _open_zip(blob: bytes) -> zipfile.ZipFile:
    try:
        return zipfile.ZipFile(io.BytesIO(blob))
    except (zipfile.BadZipFile, OSError, ValueError, EOFError) as e:
        raise UnsupportedMediaError(f"bad zip container: {e}") from e


# Per-member inflate ceiling: a zip bomb inside a DOCX/ODT/EPUB must
# cost at most this much executor memory, then quarantine — same capped
# streamed-read stance as archives.max_member_bytes (ADVICE r9 medium).
MAX_MEMBER_BYTES = 256 * 1024 * 1024


def _zip_read(zf: zipfile.ZipFile, name: str) -> bytes:
    try:
        # streamed capped read, never whole-member zf.read: a deflate
        # bomb hits the cap after MAX_MEMBER_BYTES+1 bytes
        with zf.open(name) as fh:
            data = fh.read(MAX_MEMBER_BYTES + 1)
    # NotImplementedError = exotic compression method, RuntimeError =
    # encrypted member, zlib.error = damaged deflate (fuzz-found) —
    # all must cost a typed quarantine, never escape the kernel
    except (KeyError, zipfile.BadZipFile, OSError, ValueError,
            NotImplementedError, RuntimeError, zlib.error,
            EOFError) as e:
        raise UnsupportedMediaError(
            f"zip member unreadable: {name}: {e}"
        ) from e
    if len(data) > MAX_MEMBER_BYTES:
        raise UnsupportedMediaError(
            f"zip member inflates past MAX_MEMBER_BYTES "
            f"({MAX_MEMBER_BYTES}): {name}"
        )
    return data


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def docx_to_text(blob: bytes) -> str:
    """DOCX bytes → text (paragraphs joined with newlines)."""
    zf = _open_zip(blob)
    root = _safe_xml_root(_zip_read(zf, "word/document.xml"))
    out: list = []

    def walk(el) -> None:
        tag = _local(el.tag)
        if tag == "p":
            for child in el:
                walk(child)
            out.append("\n")
            return
        if tag == "t":
            out.append(el.text or "")
        elif tag in ("br", "cr"):
            out.append("\n")
        elif tag == "tab":
            out.append("\t")
        for child in el:
            walk(child)

    body = None
    for el in root:
        if _local(el.tag) == "body":
            body = el
            break
    for el in (body if body is not None else root):
        walk(el)
    text = "".join(out)
    return re.sub(r"\n{2,}", "\n", text).strip("\n")


def odt_to_text(blob: bytes) -> str:
    """ODT bytes → text (paragraphs/headings joined with newlines)."""
    zf = _open_zip(blob)
    root = _safe_xml_root(_zip_read(zf, "content.xml"))
    out: list = []

    def walk(el) -> None:
        tag = _local(el.tag)
        if tag in ("p", "h"):
            out.append(_inline_text(el))
            out.append("\n")
        else:
            for child in el:
                walk(child)

    def _inline_text(el) -> str:
        parts: list = []
        if el.text:
            parts.append(el.text)
        for child in el:
            ctag = _local(child.tag)
            if ctag == "s":
                try:
                    n = int(child.get(_q("text", "c"), "1") or "1")
                except ValueError:
                    n = 1  # malformed repeat count: one space (r11)
                parts.append(" " * max(min(n, 1 << 20), 1))
            elif ctag == "tab":
                parts.append("\t")
            elif ctag == "line-break":
                parts.append("\n")
            else:
                parts.append(_inline_text(child))
            if child.tail:
                parts.append(child.tail)
        return "".join(parts)

    def _q(prefix: str, name: str) -> str:
        # ODF text namespace (public, fixed URN)
        return (
            "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}" + name
        )

    walk(root)
    text = "".join(out)
    return re.sub(r"\n{2,}", "\n", text).strip("\n")


def _strip_html(markup: str) -> str:
    """Visible text via html.parser (entities decoded, script/style
    skipped) — the kernel-side twin of functions.html.html_to_text_py."""
    from html.parser import HTMLParser

    block = {
        "p", "div", "br", "li", "tr", "h1", "h2", "h3", "h4", "h5",
        "h6", "section", "article", "blockquote", "td", "th",
    }

    class _Text(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.parts: list = []
            self._skip = 0

        def handle_starttag(self, tag, attrs):
            if tag in ("script", "style"):
                self._skip += 1
            elif tag in block:
                self.parts.append("\n")

        def handle_endtag(self, tag):
            if tag in ("script", "style"):
                self._skip = max(0, self._skip - 1)
            elif tag in block:
                self.parts.append("\n")

        def handle_data(self, data):
            if not self._skip:
                self.parts.append(data)

    p = _Text()
    p.feed(markup)
    p.close()
    t = re.sub(r"[ \t\f\x0B\r\xa0]+", " ", "".join(p.parts))
    t = re.sub(r"\n+", "\n", re.sub(r" ?\n ?", "\n", t))
    return t.strip(" \n")


def epub_to_text(blob: bytes) -> str:
    """EPUB bytes → text: spine-ordered XHTML content documents (OPF
    parse), stripped to visible text, joined with form feeds. Broken
    OPF falls back to name-ordered (x)html members."""
    zf = _open_zip(blob)
    names = zf.namelist()
    docs: list = []
    try:
        container = _safe_xml_root(
            _zip_read(zf, "META-INF/container.xml")
        )
        opf_path = None
        for el in container.iter():
            if _local(el.tag) == "rootfile":
                opf_path = el.get("full-path")
                break
        if not opf_path:
            raise UnsupportedMediaError("EPUB: no rootfile")
        opf = _safe_xml_root(_zip_read(zf, opf_path))
        base = posixpath.dirname(opf_path)
        items: dict = {}
        spine: list = []
        for el in opf.iter():
            tag = _local(el.tag)
            if tag == "item":
                items[el.get("id")] = (
                    el.get("href"), el.get("media-type") or ""
                )
            elif tag == "itemref":
                spine.append(el.get("idref"))
        for idref in spine:
            href, mt = items.get(idref, (None, ""))
            if href and ("html" in mt or href.endswith(
                (".xhtml", ".html", ".htm")
            )):
                docs.append(
                    posixpath.normpath(posixpath.join(base, href))
                )
    except UnsupportedMediaError:
        docs = []
    if not docs:
        # the fallback covers BOTH broken-OPF classes: a parse error
        # above AND an OPF that parses but resolves to zero spine
        # documents (itemref idrefs not matching manifest ids — a
        # common breakage the old code quarantined despite extractable
        # chapters existing; r11 review)
        docs = sorted(
            n for n in names if n.endswith((".xhtml", ".html", ".htm"))
        )
    if not docs:
        raise UnsupportedMediaError("EPUB: no content documents")
    pages = []
    for name in docs:
        try:
            raw = _zip_read(zf, name)
        except UnsupportedMediaError:
            continue
        if _DTD_RE.search(raw):
            # XHTML content docs legally carry a DOCTYPE line; the
            # html.parser path doesn't expand entities, so only
            # ENTITY declarations are hostile here
            if re.search(rb"<!\s*ENTITY", raw, re.I):
                continue
        pages.append(_strip_html(raw.decode("utf-8", "replace")))
    return "\f".join(p for p in pages if p)


_RTF_CW_RE = re.compile(
    rb"\\([a-zA-Z]{1,32})(-?\d{1,10})? ?|\\'([0-9a-fA-F]{2})|\\([^a-zA-Z])"
)
#: Destinations whose payload is metadata/binary, never body text
_RTF_SKIP = {
    b"fonttbl", b"colortbl", b"stylesheet", b"info", b"pict",
    b"object", b"header", b"footer", b"field", b"themedata",
    b"colorschememapping", b"datastore", b"latentstyles",
    b"listtable", b"listoverridetable", b"generator", b"xmlnstbl",
}


def rtf_to_text(blob: bytes) -> str:
    """RTF bytes → text: a real group-aware control-word walk —
    ``\\par``/``\\line`` newlines, ``\\tab`` tabs, ``\\'hh`` codepage
    escapes (cp1252), ``\\uN`` unicode with the ``\\ucN`` fallback-skip
    rule honored per group, ``{\\*...}`` and table/font/picture
    destinations skipped whole, ``\\binN`` payloads skipped by length."""
    if not blob.lstrip().startswith(b"{\\rtf"):
        raise UnsupportedMediaError("not an RTF document")
    out: list = []
    i = 0
    n = len(blob)
    skip_depth = 0  # >0 while inside a skipped destination group
    depth = 0
    uc_stack = [1]  # \ucN per group
    pending_uskip = 0
    pending_high = None  # held high surrogate awaiting its pair
    while i < n:
        c = blob[i]
        if c == 0x7B:  # {
            depth += 1
            uc_stack.append(uc_stack[-1])
            if skip_depth:
                skip_depth += 1
            else:
                # {\* ...} optional destination: skip unless known text
                if blob[i + 1 : i + 3] == b"\\*":
                    skip_depth = 1
                else:
                    m = _RTF_CW_RE.match(blob, i + 1)
                    if m and m.group(1) in _RTF_SKIP:
                        skip_depth = 1
            i += 1
            continue
        if c == 0x7D:  # }
            depth = max(depth - 1, 0)
            if len(uc_stack) > 1:
                uc_stack.pop()
            if skip_depth:
                skip_depth -= 1
            i += 1
            continue
        if c == 0x5C:  # backslash
            m = _RTF_CW_RE.match(blob, i)
            if not m:
                i += 1
                continue
            i = m.end()
            word, param, hexb, sym = (
                m.group(1), m.group(2), m.group(3), m.group(4),
            )
            if skip_depth:
                if word == b"bin" and param:
                    i += max(int(param), 0)  # binary payload
                continue
            if hexb is not None:
                if pending_uskip:
                    pending_uskip -= 1
                else:
                    out.append(
                        bytes([int(hexb, 16)]).decode("cp1252", "replace")
                    )
                continue
            if sym is not None:
                if sym in (b"\\", b"{", b"}"):
                    out.append(sym.decode())
                elif sym == b"~":
                    out.append("\u00a0")
                elif sym in (b"\n", b"\r"):
                    out.append("\n")
                continue
            if word == b"u" and param:
                cp = int(param)
                cp = cp + 65536 if cp < 0 else cp
                if cp > 0x10FFFF:
                    # hostile \uN with an out-of-range parameter (the
                    # regex admits 10 digits): U+FFFD, not a chr()
                    # ValueError escaping the kernel (r11 review)
                    out.append("�")
                    pending_uskip = uc_stack[-1]
                    continue
                # RTF \uN is a SIGNED 16-bit value: astral characters
                # arrive as UTF-16 surrogate PAIRS — recompose them
                # (hypothesis-found); stray surrogates become U+FFFD
                if 0xD800 <= cp <= 0xDBFF:
                    if pending_high is not None:
                        out.append("�")
                    pending_high = cp
                elif 0xDC00 <= cp <= 0xDFFF:
                    if pending_high is not None:
                        out.append(
                            chr(
                                0x10000
                                + ((pending_high - 0xD800) << 10)
                                + (cp - 0xDC00)
                            )
                        )
                        pending_high = None
                    else:
                        out.append("�")
                else:
                    if pending_high is not None:
                        out.append("�")
                        pending_high = None
                    out.append(chr(cp))
                pending_uskip = uc_stack[-1]
            elif word == b"uc" and param:
                uc_stack[-1] = int(param)
            elif word in (b"par", b"line", b"sect", b"page"):
                out.append("\n")
            elif word == b"tab":
                out.append("\t")
            elif word in (b"emdash", b"endash"):
                out.append("—" if word == b"emdash" else "–")
            elif word in (b"lquote", b"rquote"):
                out.append("‘" if word == b"lquote" else "’")
            elif word == b"bin" and param:
                i += max(int(param), 0)
            continue
        if c in b"\r\n":
            i += 1
            continue
        if skip_depth:
            i += 1
            continue
        if pending_uskip:
            pending_uskip -= 1
            i += 1
            continue
        out.append(chr(c) if c < 128 else bytes([c]).decode(
            "cp1252", "replace"
        ))
        i += 1
    text = "".join(out)
    return re.sub(r"\n{2,}", "\n", text).strip("\n ")


def encode_simple_rtf(paragraphs) -> bytes:
    """``[paragraph_text, ...]`` → minimal RTF (writer twin); non-ASCII
    escapes as ``\\uN``; embedded newlines/tabs become ``\\line``/
    ``\\tab`` (RTF readers IGNORE raw newline bytes per spec, so a
    writer that leaves them raw silently loses them — hypothesis
    found exactly that on the round-trip)."""
    body = []
    for p in paragraphs:
        chars = []
        for ch in p:
            o = ord(ch)
            if ch in "\\{}":
                chars.append("\\" + ch)
            elif ch == "\n":
                chars.append("\\line ")
            elif ch == "\t":
                chars.append("\\tab ")
            elif ch == "\r":
                continue  # not representable; readers ignore raw CR
            elif o < 128:
                chars.append(ch)
            elif o > 0xFFFF:
                # astral plane: UTF-16 surrogate pair, each signed
                v = o - 0x10000
                hi = 0xD800 + (v >> 10)
                lo = 0xDC00 + (v & 0x3FF)
                chars.append(f"\\u{hi - 65536}?\\u{lo - 65536}?")
            else:
                cp = o if o < 32768 else o - 65536
                chars.append(f"\\u{cp}?")
        body.append("".join(chars))
    return (
        "{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Times;}}\\uc1 "
        + "\\par ".join(body)
        + "}"
    ).encode("ascii")


# ---------------------------------------------------------------------------
# Fixture encoder twins (the usual role: spec-shaped containers the
# extractors above decode for real)
# ---------------------------------------------------------------------------

_WNS = (
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
)


def _xml_esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def encode_simple_docx(paragraphs) -> bytes:
    """``[paragraph_text, ...]`` → a minimal spec-shaped DOCX; each
    paragraph is one ``w:p`` with one preserve-space ``w:t`` run."""
    body = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{_xml_esc(p)}</w:t>'
        f"</w:r></w:p>"
        for p in paragraphs
    )
    xml = (
        f'<?xml version="1.0"?><w:document xmlns:w="{_WNS}">'
        f"<w:body>{body}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", xml)
    return buf.getvalue()


def encode_simple_odt(paragraphs) -> bytes:
    """``[paragraph_text, ...]`` → a minimal spec-shaped ODT."""
    body = "".join(
        f"<text:p>{_xml_esc(p)}</text:p>" for p in paragraphs
    )
    xml = (
        '<?xml version="1.0"?><office:document-content'
        ' xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
        ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        f"<office:body><office:text>{body}</office:text></office:body>"
        "</office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "mimetype", "application/vnd.oasis.opendocument.text"
        )
        zf.writestr("content.xml", xml)
    return buf.getvalue()


def encode_simple_epub(chapters) -> bytes:
    """``[chapter_html, ...]`` → a minimal spec-shaped EPUB (container
    + OPF manifest/spine in order + XHTML content documents)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr(
            "META-INF/container.xml",
            '<?xml version="1.0"?><container><rootfiles>'
            '<rootfile full-path="OEBPS/content.opf"/>'
            "</rootfiles></container>",
        )
        manifest = "".join(
            f'<item id="c{i}" href="ch{i}.xhtml"'
            f' media-type="application/xhtml+xml"/>'
            for i in range(len(chapters))
        )
        spine = "".join(
            f'<itemref idref="c{i}"/>' for i in range(len(chapters))
        )
        zf.writestr(
            "OEBPS/content.opf",
            f'<?xml version="1.0"?><package><manifest>{manifest}'
            f"</manifest><spine>{spine}</spine></package>",
        )
        for i, html in enumerate(chapters):
            zf.writestr(f"OEBPS/ch{i}.xhtml", html)
    return buf.getvalue()


def sniff_zip_document(blob: bytes):
    """ZIP container sniff → 'docx' | 'odt' | 'epub' | 'zip' | None
    (None = not a zip). Reads only the central directory + the tiny
    ``mimetype`` member."""
    if blob[:4] not in (b"PK\x03\x04", b"PK\x05\x06"):
        return None
    try:
        zf = zipfile.ZipFile(io.BytesIO(blob))
        names = set(zf.namelist())
        if "mimetype" in names:
            with zf.open("mimetype") as fh:  # streamed: bomb-safe
                mt = fh.read(80)
            if b"opendocument.text" in mt:
                return "odt"
            if b"epub+zip" in mt:
                return "epub"
        if "word/document.xml" in names:
            return "docx"
        if "META-INF/container.xml" in names:
            return "epub"
        return "zip"
    except (zipfile.BadZipFile, OSError, ValueError, KeyError,
            NotImplementedError, RuntimeError, zlib.error, EOFError):
        return "zip"


def document_to_text(blob: bytes) -> tuple[str, str]:
    """Any supported document blob → ``(kind, text)`` — the one
    dispatch point: PDF, DOCX, ODT, EPUB. Raises the shared typed
    error for everything else."""
    from .pdf import pdf_to_text

    if blob.lstrip()[:5].startswith(b"%PDF-"):
        text, _n, _d = pdf_to_text(blob)
        return "pdf", text
    if blob.lstrip().startswith(b"{\\rtf"):
        return "rtf", rtf_to_text(blob)
    kind = sniff_zip_document(blob)
    if kind == "docx":
        return "docx", docx_to_text(blob)
    if kind == "odt":
        return "odt", odt_to_text(blob)
    if kind == "epub":
        return "epub", epub_to_text(blob)
    raise UnsupportedMediaError("no document extractor for this format")


def extract_document_text(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Blob frame → ``(id, kind, text, error)`` through the unified
    document dispatch — one map-only Arrow kernel, typed quarantine
    (``error IS NOT NULL``), never a dead job."""
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, texts, errs = [], [], [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                ids.append(mid)
                try:
                    kind, text = document_to_text(
                        bytes(content) if content is not None else b""
                    )
                    kinds.append(kind)
                    texts.append(text)
                    errs.append(None)
                # the full quarantine family, not just the typed
                # refusal: hand-written format parsers over hostile
                # bytes can leak stdlib exceptions (chr() range,
                # int() parses, odd-length hex...) and ONE such row
                # must cost a quarantine row, never the job (r11
                # review found reachable ValueError paths in both
                # extractors)
                except (UnsupportedMediaError, RecursionError,
                        ValueError, KeyError, IndexError, struct.error,
                        zlib.error, EOFError) as e:
                    kinds.append(None)
                    texts.append(None)
                    errs.append(str(e))
            yield pd.DataFrame(
                {"id": ids, "kind": kinds, "text": texts, "error": errs}
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(content_col)
    ).mapInPandas(
        kernel, "id string, kind string, text string, error string"
    )
