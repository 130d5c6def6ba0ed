from social_warner_spark.sources.rest import PagedRestDataSource

__all__ = ["PagedRestDataSource"]
