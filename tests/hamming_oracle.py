"""Brute-force replay of the hamming key-index operators' drop rule, in
plain Python over collected fingerprints — the oracle the key-index
operator tests compare against."""

from __future__ import annotations


def replay_hamming_dedupe(batches, max_hamming, store=()):
    """``batches``: per batch, ``(id, collapse_key, fingerprint)`` rows.
    Within a batch the min id per collapse key survives; a NULL
    fingerprint passes fresh and is never stored; a survivor drops iff
    its min hamming distance to the store is <= ``max_hamming``; kept
    fingerprints join the store after the batch.  ``store`` seeds the
    carried fingerprints.  Returns ``(fresh ids, kept ids)`` per batch."""
    store, out = list(store), []
    for rows in batches:
        first = {}
        for i, key, fp in sorted(rows, key=lambda r: r[0]):
            if fp is not None:
                first.setdefault(key, (i, fp))
        fresh = {i for i, _, fp in rows if fp is None}
        kept = {
            i: fp for i, fp in first.values()
            if all(bin(fp ^ s).count("1") > max_hamming for s in store)
        }
        store += kept.values()
        out.append((fresh | set(kept), set(kept)))
    return out
