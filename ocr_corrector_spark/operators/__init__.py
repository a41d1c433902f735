from .extract import with_extraction, extract_main_content
from .reassemble import reassemble_conversations, order_turns

__all__ = [
    "with_extraction",
    "extract_main_content",
    "reassemble_conversations",
    "order_turns",
]
