"""Deterministic synthetic transcripts + frozen golden outputs.

Implements FIXTURES.md §1-3: seed-fixed conversations with Zipf-skewed
lengths (a few conversations orders of magnitude longer than the rest,
to exercise the salted shuffle), payload mix ~60% HTML / ~25% base64
PDF / ~10% plain text / ~5% adversarial garbage-gate triggers, and
golden expected outputs computed by the pure-Python kernels and frozen
at generation time (the reference ships no corpus, SURVEY §5.1).
"""

from __future__ import annotations

import base64
import datetime as dt
import random

import pandas as pd

from ..functions.spread import read_spread
from ..kernels import pdfgen
from ..kernels.payload import extract_turn

_WORDS = (
    "revenue margin growth quarter report segment region product outlook "
    "figures analysis detailed breakdown capital market strategy operating "
    "income balance statement earnings forecast investment performance "
    "summary review highlights expansion demand supply volume pricing"
).split()

_NAV_WORDS = "Home About Contact Products Careers Blog Support Legal".split()


def _sentence(rng: random.Random, n: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _html_payload(rng: random.Random) -> str:
    parts = ["<html><body>"]
    # boilerplate nav
    links = " ".join(
        f'<a href="/{w.lower()}">{w}</a>' for w in rng.sample(_NAV_WORDS, 4)
    )
    parts.append(f"<nav>{links}</nav>")
    parts.append(f"<h1>{_sentence(rng, rng.randint(2, 5))[:-1]}</h1>")
    for _ in range(rng.randint(1, 4)):
        adorn = rng.random()
        s = _sentence(rng, rng.randint(8, 25))
        if adorn < 0.2:
            s = s.replace(" ", "&nbsp;", 1) + " &amp; more &mdash; done&#x2026;"
        elif adorn < 0.3:
            s = "“" + s + "” – quoted"
        parts.append(f"<p>{s}</p>")
    if rng.random() < 0.5:
        parts.append(f"<div>Page {rng.randint(1, 99)}</div>")
    parts.append("<footer><a href='/priv'>Privacy</a> | <a href='/t'>Terms</a></footer>")
    parts.append("</body></html>")
    return "".join(parts)


def _pdf_payload(rng: random.Random) -> str:
    n_pages = 1 if rng.random() < 0.8 else 2
    streams = []
    for _ in range(n_pages):
        blocks = []
        y = 720.0
        # enough lines to pass the 250-char gate most of the time;
        # ~15% are deliberately short to trip it
        short = rng.random() < 0.15
        n_blocks = 1 if short else rng.randint(2, 4)
        for _ in range(n_blocks):
            lines = [
                _sentence(rng, rng.randint(6, 12))
                for _ in range(1 if short else rng.randint(2, 4))
            ]
            if not short and rng.random() < 0.3:
                lines[0] = lines[0][:-1] + " liga-"
                lines.insert(1, "tures repaired here.")
            if not short and rng.random() < 0.2:
                lines[0] = "ﬁnancial ﬂows: " + lines[0]
            blocks.append((72.0, y, lines))
            y -= 14.0 * (len(lines) + 2) + 10.0
        streams.append(pdfgen.simple_page(blocks))
    data = pdfgen.build_pdf(streams, compress=rng.random() < 0.5)
    return base64.b64encode(data).decode("ascii")


_ADVERSARIAL = [
    "",
    "   \n  ",
    "\x01\x02\x03\x04\x05\x06\x07\x08" * 8,  # control soup
    "aaaa bbbb aaaa bbbb",  # <5 distinct chars
    "a b c d e f g h i j",  # short-word ratio
    "#$%^&* #$%^&* #$%^&*",  # special-char ratio
    "x" * 249,  # plain text, fine
    "ﬁ ﬂ ligatures in plain text — with dash",
    "JVBERnot!!really@@base64##at$$all",  # sniffs as pdf, bad base64
    "JVBERi0" + "QUJD" * 40,  # valid base64, not a valid PDF body
    "<div>" * 200 + "deep nesting" + "</div>" * 200,
    "<a href=x>only</a> <a href=y>links</a> <a href=z>here</a>",
    "<p>unterminated <b tag soup < < <",
]


def _plain_payload(rng: random.Random) -> str:
    return _sentence(rng, rng.randint(10, 40))


ZIPF_A = 1.6  # Pareto shape of the conversation lengths
BASE_TS = dt.datetime(2026, 1, 1)  # timestamp of day 0, turn 0


def generate_transcripts(
    n_convs: int = 300,
    seed: int = 42,
    *,
    max_turns: int = 2000,
    with_golden: bool = True,
    target_turns: int | None = None,
) -> tuple[pd.DataFrame, pd.DataFrame | None]:
    """Returns (transcripts, golden) pandas frames.

    transcripts: conv_id, turn_idx, role, text, tool, ts
    golden:      conv_id, turn_idx, expected_text, expected_method,
                 expected_chars_out, expected_bytes_in,
                 expected_boilerplate_ratio
                 (None when ``with_golden=False`` — bench input only)
    """
    rng = random.Random(seed)
    roles = ("user", "assistant", "tool")

    t_rows, g_rows = [], []
    i = -1
    while True:
        i += 1
        if target_turns is None:
            if i >= n_convs:
                break
        elif len(t_rows) >= target_turns:
            break
        conv_id = f"conv_{i:08d}"
        # Zipf-skewed conversation length
        n_turns = min(max_turns, max(2, int(rng.paretovariate(ZIPF_A))))
        if i == 0:
            n_turns = max_turns  # guarantee one giant conversation
        for turn_idx in range(1, n_turns + 1):
            role = roles[(turn_idx - 1) % 3]
            p = rng.random()
            if p < 0.60:
                text = _html_payload(rng)
            elif p < 0.85:
                text = _pdf_payload(rng)
            elif p < 0.95:
                text = _plain_payload(rng)
            else:
                text = rng.choice(_ADVERSARIAL)
            tool = "extractor" if role == "tool" else None
            ts = BASE_TS + dt.timedelta(days=i % 365, seconds=turn_idx * 7)
            t_rows.append((conv_id, turn_idx, role, text, tool, ts))
            if with_golden:
                r = extract_turn(text)
                g_rows.append(
                    (
                        conv_id,
                        turn_idx,
                        r.text,
                        r.method,
                        r.chars_out,
                        r.bytes_in,
                        r.boilerplate_ratio,
                    )
                )

    transcripts = pd.DataFrame(
        t_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    if not with_golden:
        return transcripts, None
    golden = pd.DataFrame(
        g_rows,
        columns=[
            "conv_id",
            "turn_idx",
            "expected_text",
            "expected_method",
            "expected_chars_out",
            "expected_bytes_in",
            "expected_boilerplate_ratio",
        ],
    )
    golden["turn_idx"] = golden["turn_idx"].astype("int32")
    return transcripts, golden


def transcripts_from_documents(spark, sf_dir: str):
    """Derive a deterministic transcripts table from the driver-provided
    ``documents`` parquet (TESTDATA.md) — used by ``__spark_entry__``
    and the benchmark so no external data is synthesized at test time.

    Every document becomes one conversation with four turns: an HTML
    wrap of its text, a plain-text turn, (doc_id % 10 == 0) an
    adversarial control-character turn, and a base64 PDF rendering of
    the text (exercising the full PDF kernel — fonts, layout,
    block/line assembly — on the driver-checked path).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _pdf_turn(texts: pd.Series) -> pd.Series:
        # datagen-only UDF (not engine hot path): deterministically
        # renders each document's text into a one-page Flate PDF
        out = []
        for t in texts:
            words = (t or "").split()
            lines = [
                " ".join(words[k : k + 8])
                for k in range(0, min(len(words), 64), 8)
            ] or ["empty"]
            blocks, y = [], 720.0
            for j in range(0, len(lines), 4):
                blocks.append((72.0, y, lines[j : j + 4]))
                y -= 14.0 * 6
            data = pdfgen.build_pdf(
                [pdfgen.simple_page(blocks)], compress=True
            )
            out.append(base64.b64encode(data).decode("ascii"))
        return pd.Series(out)

    # spread like every reader of the table: _pdf_turn renders a PDF per
    # document, so a one-partition scan would render them all on one
    # task (and run_extraction adds no second spread over this one)
    docs = read_spread(spark, sf_dir, "documents")
    html_turn = F.concat(
        F.lit("<html><body><nav><a href='/'>Home</a> <a href='/a'>About</a> "
              "<a href='/c'>Contact</a></nav><h1>Document "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><div>Page 1</div><footer><a href='/p'>Privacy</a>"
              "</footer></body></html>"),
    )
    plain_turn = F.col("text")
    adversarial = F.when(
        F.col("doc_id") % 10 == 0, F.lit("\x01\x02\x03\x04\x05\x06\x07\x08" * 8)
    ).otherwise(F.concat(F.lit("summary: "), F.col("text")))

    base = docs.select(
        F.concat(F.lit("conv_"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        html_turn.alias("t1"),
        plain_turn.alias("t2"),
        adversarial.alias("t3"),
        _pdf_turn(F.col("text")).alias("t4"),
    )
    turns = base.select(
        "conv_id",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("turn_idx"), F.col("t1").alias("text")),
                F.struct(F.lit(2).alias("turn_idx"), F.col("t2").alias("text")),
                F.struct(F.lit(3).alias("turn_idx"), F.col("t3").alias("text")),
                F.struct(F.lit(4).alias("turn_idx"), F.col("t4").alias("text")),
            )
        ).alias("t"),
    )
    return turns.select(
        "conv_id",
        F.col("t.turn_idx").cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            F.pmod(F.col("t.turn_idx") - 1, F.lit(3)) + 1,
        ).alias("role"),
        F.col("t.text").alias("text"),
        F.when(
            F.pmod(F.col("t.turn_idx") - 1, F.lit(3)) + 1 == 3,
            F.lit("extractor"),
        ).alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
