from .session import get_spark

__all__ = ["get_spark"]
