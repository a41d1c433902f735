"""Streaming operators: replay dedup, windowed correction metrics and
session-gap conversation assembly."""

from .stateful import assemble_conversations
from .stream import streaming_dedup, streaming_metrics

__all__ = [
    "streaming_dedup",
    "streaming_metrics",
    "assemble_conversations",
]
