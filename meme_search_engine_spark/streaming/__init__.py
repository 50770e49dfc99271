from .windows import streaming_index_pipeline

__all__ = ["streaming_index_pipeline"]
