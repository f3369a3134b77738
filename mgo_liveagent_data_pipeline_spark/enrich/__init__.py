"""Enrichment stages — the reference's external-service operators.

* U1 LLM conversation analysis (core/extract/ConvoDataExtract.py:37-187,
  core/LLMGateway.py:39-136) → ``convo.analyze_conversations``:
  one ``mapInArrow`` stage over the pre-assembled conversations with an
  injectable gateway; the default stub gateway is hash-deterministic so
  results are oracle-checkable.
* U2 geocode with external fallback (core/Geocode.py:91-157) →
  ``geocode.geocode_with_fallback``: native two-phase similarity join for
  the bulk, rate-limited mapPartitions fallback for residual misses.

This package init imports only ``convo`` and ``gateway``: a U1 Python
worker imports this package to unpickle its batch function, and
``geocode`` would bring pandas and every operator module with it. Import
U2 from ``.geocode``.
"""
from .convo import analyze_conversations
from .gateway import StubGateway

__all__ = ["analyze_conversations", "StubGateway"]
