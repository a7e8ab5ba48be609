"""Parameterized query builders — the reference's query surface
(`RecentTweets.get_recent_tweets` / `count_tweets` and the event PK lookup)
as DataFrame plan functions."""
