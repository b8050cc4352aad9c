"""Markdown / LaTeX → text: the README and arXiv corpus edges.

Two more markup families dominate training corpora alongside HTML:
repository READMEs/docs (Markdown) and academic sources (LaTeX — the
arXiv dump ships ``.tex``, not PDF). Same contract as
``functions/html.py``:

* ``markdown_to_text`` — pure column expressions (chained
  ``regexp_replace`` stages, whole-stage codegen, zero Python), with
  ``markdown_to_text_sql`` emitting the IDENTICAL stage chain for
  DuckDB oracle replay. Covers the ubiquitous constructs: fenced and
  indented code blocks (content kept, fences dropped), inline code,
  images (alt text kept), inline and reference links (text kept),
  ATX/Setext headers, emphasis/strong/strikethrough markers,
  blockquote prefixes, list bullets, tables (pipes → spaces),
  horizontal rules. No lookaround/backreferences — Java regex and RE2
  read every stage identically.
* ``latex_to_text`` — Arrow-batched kernel (nested-brace command
  parsing is beyond regex): comments stripped, text-bearing commands
  (``\\textbf{..}``, ``\\emph``, ``\\section`` …) keep their argument,
  reference/citation/label/graphics commands drop theirs, float/math
  environments (``equation``, ``figure``, ``tabular`` …) drop whole,
  ``$..$``/``\\[..\\]`` math dropped, ``\\item`` → bullet, accents like
  ``\\'e`` composed, ``~`` → space, escaped specials (``\\%``, ``\\&``)
  unescaped. An honest heuristic extractor — the same class arXiv
  pipelines use — not a TeX engine.

Reference scope note: no text edge in the reference; Layer-B extension
(SURVEY.md §2 "beyond the reference").
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

ColumnOrName = Column | str

__all__ = [
    "markdown_to_text",
    "markdown_to_text_sql",
    "latex_to_text",
    "latex_to_text_str",
]

#: (pattern, replacement) stages shared verbatim by Spark and DuckDB.
#: Order is load-bearing: fences before inline code (a backtick run is
#: a fence first), images before links (``![a](u)`` contains a link),
#: emphasis AFTER links (link text may be emphasized), whitespace last.
_MD_STAGES: tuple[tuple[str, str], ...] = (
    # fenced code blocks: drop the fence lines, keep the code body
    (r"(?m)^ {0,3}(```+|~~~+)[^\n]*$", ""),
    # images: keep alt text
    (r"!\[([^\]\n]*)\]\([^)\n]*\)", "$1"),
    # inline links: keep the text
    (r"\[([^\]\n]*)\]\([^)\n]*\)", "$1"),
    # reference-style links/definitions: keep text, drop definitions
    (r"\[([^\]\n]*)\]\[[^\]\n]*\]", "$1"),
    (r"(?m)^ {0,3}\[[^\]\n]+\]:[^\n]*$", ""),
    # ATX headers: strip leading hashes (and optional closing run)
    (r"(?m)^ {0,3}#{1,6}[ \t]+", ""),
    (r"(?m)[ \t]+#+[ \t]*$", ""),
    # Setext underlines and horizontal rules: whole line away
    (r"(?m)^ {0,3}(=+|-{3,}|\*{3,}|_{3,})[ \t]*$", ""),
    # blockquotes and list bullets: strip the prefix, keep the text
    (r"(?m)^ {0,3}(>[ \t]?)+", ""),
    (r"(?m)^[ \t]*[-*+][ \t]+", ""),
    (r"(?m)^[ \t]*\d{1,3}\.[ \t]+", ""),
    # tables: delimiter rows away whole, then pipes become spaces
    (r"(?m)^ {0,3}\|?[-:][-:| \t]*$", ""),
    (r"(?m)^ {0,3}\|", ""),
    (r"\|", " "),
    # inline code + emphasis markers (content kept)
    (r"`", ""),
    (r"\*\*\*|___", ""),
    (r"\*\*|__", ""),
    (r"(^|[ \t\n])\*([^*\n]+)\*", "$1$2"),
    (r"(^|[ \t\n])_([^_\n]+)_", "$1$2"),
    (r"~~", ""),
    # whitespace normalization (the html.py tail)
    (r"[ \t\f\x0B\r]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n+", "\n"),
    (r"^[ \n]+", ""),
    (r"[ \n]+$", ""),
)


def markdown_to_text(md: ColumnOrName) -> Column:
    """Plain text of a Markdown column — expression path (module
    docstring). NULL in, NULL out."""
    c = F.col(md) if isinstance(md, str) else md
    for pat, rep in _MD_STAGES:
        c = F.regexp_replace(c, pat, rep)
    return c


def markdown_to_text_sql(md_expr: str) -> str:
    """DuckDB twin of ``markdown_to_text`` — the same stage chain
    emitted as nested ``regexp_replace(..., 'g')``. RE2 rewrites use
    ``\\1`` where Java uses ``$1``; that is the ONLY divergence."""
    expr = md_expr
    for pat, rep in _MD_STAGES:
        p = pat.replace("'", "''")
        r = rep.replace("\\", "\\\\")
        r = re.sub(r"\$(\d)", r"\\\\\1", r)  # Java $N -> RE2 \N
        r = r.replace("'", "''").replace("\n", "\\n")
        expr = f"regexp_replace({expr}, '{p}', e'{r}', 'g')"
    return expr


# ---------------------------------------------------------------------------
# LaTeX (kernel path)
# ---------------------------------------------------------------------------

#: Commands whose single braced argument IS text to keep.
_TEX_KEEP = {
    "textbf", "textit", "texttt", "textsc", "textsl", "textrm",
    "textsf", "emph", "underline", "mbox", "text", "section",
    "subsection", "subsubsection", "paragraph", "chapter", "title",
    "author", "caption", "footnote", "textsuperscript",
    "textsubscript",
}
#: Commands whose argument(s) are metadata to drop.
_TEX_DROP = {
    "cite", "citep", "citet", "ref", "eqref", "pageref", "label",
    "includegraphics", "bibliography", "bibliographystyle", "input",
    "include", "usepackage", "documentclass", "vspace", "hspace",
    "newcommand", "renewcommand", "url", "href", "begin", "end",
    "bibitem", "setlength", "definecolor",
}
#: Environments whose CONTENT is dropped whole.
_TEX_DROP_ENVS = {
    "equation", "equation*", "align", "align*", "eqnarray", "gather",
    "gather*", "displaymath", "math", "tabular", "tabular*", "array",
    "figure", "figure*", "table", "table*", "tikzpicture", "verbatim",
    "lstlisting", "thebibliography",
}
_TEX_ACCENTS = {
    "'e": "é", "'a": "á", "'o": "ó", "'u": "ú", "'i": "í",
    '"a': "ä", '"o': "ö", '"u': "ü", "`e": "è", "`a": "à",
    "^e": "ê", "^o": "ô", "~n": "ñ",
}

#: letter-COMMAND accents (\ss, \c c): these spell with [a-zA-Z]+ so
#: the control-symbol pair table above can never see them — they are
#: consumed by the letter-command branch (r11 review: the old "c c"/
#: "ss" pair-table entries were unreachable for every input)
_TEX_LETTER_ACCENTS = {"ss": "ß", "SS": "SS"}
_TEX_CEDILLA = {"c": "ç", "C": "Ç"}


def latex_to_text_str(src: str) -> str:
    """One LaTeX source string → plain text (heuristic; see module
    docstring)."""
    n = len(src)
    out: list = []
    i = 0
    env_drop = 0
    while i < n:
        c = src[i]
        if c == "%":
            while i < n and src[i] != "\n":
                i += 1
            continue
        if c == "\\":
            m = re.match(r"\\([a-zA-Z]+)\s*", src[i:])
            if m:
                name = m.group(1)
                i += m.end()
                if name in ("begin", "end"):
                    am = re.match(r"\{([^}]*)\}", src[i:])
                    env = am.group(1) if am else ""
                    if am:
                        i += am.end()
                    if env in _TEX_DROP_ENVS:
                        env_drop += 1 if name == "begin" else -1
                        env_drop = max(env_drop, 0)
                    elif not env_drop and name == "begin" and env in (
                        "itemize", "enumerate", "description",
                        "quote", "abstract", "center",
                    ):
                        out.append("\n")
                    continue
                if env_drop:
                    continue
                if name == "item":
                    out.append("\n- ")
                    # optional [label]
                    bm = re.match(r"\[[^\]]*\]\s*", src[i:])
                    if bm:
                        i += bm.end()
                    continue
                if name == "par":
                    # (a literal \\ is a control SYMBOL, handled in
                    # the non-letter branch below — it can never spell
                    # as an [a-zA-Z]+ name)
                    out.append("\n")
                    continue
                if name in _TEX_LETTER_ACCENTS:
                    if not env_drop:
                        out.append(_TEX_LETTER_ACCENTS[name])
                    continue
                if name == "c":
                    # cedilla: \c c or \c{c}
                    bm = re.match(r"\{?([a-zA-Z])\}?", src[i:])
                    if bm:
                        i += bm.end()
                        if not env_drop:
                            out.append(
                                _TEX_CEDILLA.get(
                                    bm.group(1), bm.group(1)
                                )
                            )
                    continue
                if name in _TEX_KEEP:
                    # keep the braced argument's content: emit nothing
                    # here, the argument text flows through the main
                    # walk (braces are transparent below); sectioning
                    # commands get a line break
                    if name.startswith(("section", "subsection",
                                        "chapter", "paragraph",
                                        "subsubsection")):
                        out.append("\n")
                    # skip an optional [..] arg (e.g. \section[short])
                    bm = re.match(r"\[[^\]]*\]", src[i:])
                    if bm:
                        i += bm.end()
                    continue
                if name in _TEX_DROP:
                    # drop optional + braced arguments
                    while True:
                        bm = re.match(r"\s*\[[^\]]*\]", src[i:])
                        if bm:
                            i += bm.end()
                            continue
                        if i < n and src[i] == "{":
                            depth = 0
                            while i < n:
                                if src[i] == "{":
                                    depth += 1
                                elif src[i] == "}":
                                    depth -= 1
                                    if depth == 0:
                                        i += 1
                                        break
                                i += 1
                            continue
                        break
                    continue
                # unknown command: drop the command itself, keep any
                # braced argument content (transparent braces)
                continue
            # control symbol: \%, \&, accents, \\, \~ ...
            if i + 1 < n:
                sym = src[i + 1]
                pair = sym + (src[i + 2] if i + 2 < n else "")
                if not env_drop:
                    if pair in _TEX_ACCENTS:
                        out.append(_TEX_ACCENTS[pair])
                        i += 3
                        continue
                    if sym in "%&$#_{}":
                        out.append(sym)
                        i += 2
                        continue
                    if sym == "\\":
                        out.append("\n")
                        i += 2
                        continue
                    if sym == "[":
                        # display math \[ .. \]
                        at = src.find("\\]", i + 2)
                        i = n if at < 0 else at + 2
                        continue
                i += 2
                continue
            i += 1
            continue
        if c == "$":
            if env_drop:
                i += 1
                continue
            # inline or display math: skip to the closing delimiter
            if src[i : i + 2] == "$$":
                at = src.find("$$", i + 2)
                i = n if at < 0 else at + 2
            else:
                at = src.find("$", i + 1)
                i = n if at < 0 else at + 1
            continue
        if c in "{}":
            i += 1  # transparent grouping
            continue
        if not env_drop:
            out.append(" " if c == "~" else c)
        i += 1
    text = "".join(out)
    text = re.sub(r"[ \t\f\x0B\r]+", " ", text)
    text = re.sub(r"\n+", "\n", re.sub(r" ?\n ?", "\n", text))
    return text.strip(" \n")


def latex_to_text(df_col: ColumnOrName) -> Column:
    """Arrow-batched pandas-UDF wrapper over ``latex_to_text_str``."""

    @F.pandas_udf(StringType())
    def _extract(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: latex_to_text_str(t) if t is not None else None
        )

    c = F.col(df_col) if isinstance(df_col, str) else df_col
    return _extract(c)
