"""Source layer (SURVEY.md §2.1): the tar-archive codec (explode and pack),
line-text and JSON dim sources.
"""
