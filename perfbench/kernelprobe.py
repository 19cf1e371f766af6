"""Single-thread kernel timing on a sample of a workload's payloads.

Two passes over the same payloads. The first times the public entry
point ``payload.extract_turn`` per turn and groups the cost by the kind
``sniff_payload`` gives. The second follows the same decode path through
the kernels' public functions and times each stage on its own: sniff,
``PdfDocument(...)`` (object load), ``page_content`` + ``page_fonts`` +
``load_forms`` (content), ``interpret_content``, ``assemble_page``,
``extract_html`` and the ``textnorm.is_garbage`` gate.
"""

from __future__ import annotations

import base64
import binascii
import time
from collections import defaultdict

from service1_text_extraction_spark.kernels import payload as payload_mod
from service1_text_extraction_spark.kernels import pdf, textnorm
from service1_text_extraction_spark.kernels.html import extract_html

KINDS = ("pdf", "html", "text")
PDF_STAGES = ("load", "content", "interpret", "assemble")


def _us(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e6


def _pdf_stages(raw: bytes, acc: dict[str, float]) -> str:
    """Time one PDF through the kernel stages; returns the page text."""
    t0 = time.perf_counter()
    doc = pdf.PdfDocument(raw)
    acc["load"] += _us(t0)
    texts = []
    for page in doc.pages():
        t0 = time.perf_counter()
        content = doc.page_content(page)
        fonts = doc.page_fonts(page)
        forms = doc.load_forms(page)
        acc["content"] += _us(t0)
        t0 = time.perf_counter()
        runs = pdf.interpret_content(content, fonts, forms)
        acc["interpret"] += _us(t0)
        t0 = time.perf_counter()
        texts.append(pdf.assemble_page(runs).text)
        acc["assemble"] += _us(t0)
    return "\n".join(texts)


def profile(payloads: list[str]) -> dict[str, float]:
    """Per-turn and per-stage kernel cost, in microseconds, plus counts."""
    n_kind = defaultdict(int)
    us_kind = defaultdict(float)
    failed = 0
    total_us = 0.0
    for p in payloads:
        kind = payload_mod.sniff_payload(p) if p.strip() else "text"
        t0 = time.perf_counter()
        r = payload_mod.extract_turn(p)
        dt = _us(t0)
        total_us += dt
        n_kind[kind] += 1
        us_kind[kind] += dt
        failed += r.method == "failed"

    stage = defaultdict(float)
    for p in payloads:
        t0 = time.perf_counter()
        kind = payload_mod.sniff_payload(p)
        stage["sniff"] += _us(t0)
        if kind == "pdf":
            try:
                raw = base64.b64decode("".join(p.split()), validate=True)
                text = _pdf_stages(raw, stage)
            except (binascii.Error, ValueError):  # PdfError is a ValueError
                continue
        elif kind == "html":
            t0 = time.perf_counter()
            text = extract_html(p).text
            stage["html"] += _us(t0)
        else:
            text = textnorm.clean_unicode(p).strip()
        t0 = time.perf_counter()
        textnorm.is_garbage(text)
        stage["gate"] += _us(t0)

    n = max(1, len(payloads))
    out = {
        "kernels.us_per_turn": total_us / n,
        "kernels.sniff.us": stage["sniff"] / n,
        "kernels.html.extract.us": stage["html"] / max(1, n_kind["html"]),
        "kernels.gate.us": stage["gate"] / n,
        "kernels.turns.failed": float(failed),
    }
    for k in KINDS:
        out[f"kernels.{k}.us_per_turn"] = us_kind[k] / max(1, n_kind[k])
        out[f"kernels.turns.{k}"] = float(n_kind[k])
    for s in PDF_STAGES:
        out[f"kernels.pdf.{s}.us"] = stage[s] / max(1, n_kind["pdf"])
    return out
