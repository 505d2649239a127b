"""Fixture invariants the oracle SQL depends on.

Several DuckDB oracles are exact only under properties of the driver
fixtures that are easy to violate silently when fixtures change:

* documents.text must be pure ASCII — DuckDB levenshtein()/ord() are
  byte-based while the kernel counts codepoints and media_features
  bins UTF-8 bytes (_SQL_EQUALITY_ALIGN, _SQL_MEDIA_FEATURES).
* documents.text must not contain '>' — a wrapped FASTA sequence line
  starting with '>' would be misparsed as a header (now also defended
  by _ensure_fasta's '>' -> '_' substitution, mirrored in SQL).
* the canonical turn separator must be a single byte so DuckDB's
  byte-based levenshtein agrees with codepoint distances.

These run here (cheap, Spark-free) so a non-conforming fixture fails
loudly instead of surfacing as an opaque hash mismatch in the gate.
"""

import os

import pytest

SF_DIRS = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                       "/root/testdata/sf0.1")
           if os.path.exists(d)]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_documents_text_ascii_and_gt_free(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["text"])
    for text in t.column("text").to_pylist():
        # NULL text would desync the fingerprint/minhash oracles too
        # (Spark returns NULL rows the SQL folds to 0 / drops), so a
        # fixture with NULLs must fail here, not as a gate hash diff.
        assert text is not None, (
            f"{sf_dir}/documents.parquet contains NULL text; the "
            "doc_fingerprint and minhash_blocks oracles diverge from "
            "Spark on NULL documents")
        assert text.isascii(), (
            f"{sf_dir}/documents.parquet contains non-ASCII text; "
            "_SQL_EQUALITY_ALIGN and _SQL_MEDIA_FEATURES oracles are "
            "byte-based and would silently diverge from the kernel")
        assert ">" not in text, (
            f"{sf_dir}/documents.parquet contains '>'; regenerate the "
            "derived FASTA (data/docs_*.fasta) so the '_' substitution "
            "applies on both the connector and oracle sides")


def test_turn_separator_single_byte():
    """DuckDB's levenshtein() counts bytes and the kernel counts
    codepoints, so the canonical oracles agree with the engine only
    while the one turn separator, shared by canonicalize and the
    contract's SQL, is a single byte."""
    from edlib_spark import driver_contract as dc
    from edlib_spark.operators.canonicalize import TURN_SEP

    assert len(TURN_SEP.encode()) == 1
    assert f"string_agg(text, '{TURN_SEP}'" in dc._SQL_CANONICAL
