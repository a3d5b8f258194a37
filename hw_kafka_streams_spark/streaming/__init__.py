"""Structured Streaming layer.

Submodules: serde (Message JSON + changelog compaction), pipeline (the
reference topology + per-batch GlobalKTable refresh), topics (the
broker-free topic admin), windows (watermarked tumbling/sliding/session
counts).
"""
