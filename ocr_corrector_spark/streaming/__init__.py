from .stateful import assemble_conversations, streaming_neardup
from .stream import streaming_dedup, streaming_interval_join, streaming_metrics

__all__ = [
    "streaming_dedup",
    "streaming_interval_join",
    "streaming_metrics",
    "assemble_conversations",
    "streaming_neardup",
]
