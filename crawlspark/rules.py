"""Crawl-policy rule data: filter lists, keywords, date windows, phrases.

Behavioral spec from the reference (cited file:line in /root/reference/
covidnews/spiders/covid_news_spider.py); the *values* here drive both the
engine and the synthetic web so correctness is checked end-to-end.
"""

from __future__ import annotations

# reference :27
SEARCH_KEYWORDS = ["covid", "pandemic", "vaccine", "coronavirus", "vaccination", "sars-cov-2"]

# reference :54-55
EXCLUDED_FILE_EXTENSIONS = [
    ".png", ".jpg", ".jpeg", ".gif", ".bmp", ".pdf", ".xls", ".mp3", ".mp4",
    ".mov", ".flv", ".doc", ".docx", ".xlsx", ".ppt", ".pptx", ".zip",
    ".webp", ".webm", ".m4v",
]

# reference :735-745 substring skip patterns
SKIP_SUBSTRINGS = ["javascript", "mailto", "whatsapp://", "play.google.com", "apps.apple.com"]

# Synthetic-web domain universe (reference analog: allowed_domain_names
# :58-77; two hot seed hosts absorb most of a country crawl :299-305).
ALLOWED_DOMAINS = [
    "cna.example",          # hot host 1 (channelnewsasia analog)
    "stimes.example",       # hot host 2 (straitstimes analog)
    "inq.example",          # inquirer analog (strong-tag DOM surgery branch)
    "bpost.example",        # bangkokpost analog (photo-div exclusion branch)
    "ktimes.example",       # khmertimes analog (multi-branch xpath)
    "mnow.example",
    "fmt.example",
    "tstar.example",
]
HOT_HOSTS = ["www.cna.example", "www.stimes.example"]

# reference irrelevant/inaccessible subdomain lists (:80-173) — analog
# patterns over our synthetic universe
IRRELEVANT_SUBDOMAIN_PATTERNS = [
    "cnalifestyle.cna.example", "luxury.cna.example", "games.stimes.example",
    "interactive.stimes.example", "shop.", "login.", "subscribe.",
]
INACCESSIBLE_SUBDOMAIN_PATTERNS = ["epaper.", "events."]

# reference incomplete_articles (:179-213) — known-bad exact URLs
INCOMPLETE_ARTICLES = [
    "https://www.cna.example/news/3000017-broken-article",
    "https://www.stimes.example/news/3000018-broken-article",
]

# reference per-country COVID date windows (:2495-2526)
DATE_WINDOWS = {  # source-domain -> (min_year, max_year)
    "cna.example": (2020, 2022),
    "stimes.example": (2020, 2022),
    "inq.example": (2020, 2023),
    "bpost.example": (2020, 2023),
    "ktimes.example": (2020, 2023),
    "mnow.example": (2020, 2023),
    "fmt.example": (2020, 2023),
    "tstar.example": (2020, 2023),
}
DEFAULT_DATE_WINDOW = (2020, 2023)

# reference get_source (:1344-1354): domain -> short code
SOURCE_CODES = {
    "cna.example": "CNA",
    "stimes.example": "ST",
    "inq.example": "INQ",
    "bpost.example": "BP",
    "ktimes.example": "KT",
    "mnow.example": "MN",
    "fmt.example": "FMT",
    "tstar.example": "TS",
    # reference get_source rows for the round-5 hosts (:1344-1354): only
    # CNA/ST/INQ/MB/archive carry labels there; every other site's source
    # is None — mbull/archive are the two reference-faithful additions
    "mbull.example": "MB",
    "archive.example": "archive",
}

# Footnote boilerplate phrases: the reference's full search_phrases list
# (covid_news_spider.py:1658-1889) — ORDER MATTERS: the removal recursion
# carries a monotone phrase-index constraint (:1926-1931).  This is
# behavioral rule DATA (the reference's de-facto spec), not code.
FOOTNOTE_PHRASES = [
    "join st's telegram channel",
    "join st's whatsapp channel",
    'download our app',
    'read this story in',
    'is an editor at',
    'is a journalist at',
    'is a journalist based in',
    'is a senior journalist at',
    'is associate fellow',
    'is a phd candidate',
    'is a doctoral candidate',
    'is Research Fellow',
    'is Associate Professor',
    'is an associate professor',
    'is Professor',
    'is a lecturer',
    'is a senior lecturer',
    'is Dean of',
    'is the Dean of',
    'Senior Research Associate',
    'Note:',
    "Editor's note",
    'Editor’s Note:',
    'Editorial note:',
    'Correction note:',
    'Clarification note:',
    'Terence Fernandez is a',
    'Brian Martin is the managing editor of The Star',
    'About the author:',
    '(Author:',
    '(Author :',
    '(Authors:',
    '(Authors :',
    '(Reporter:',
    '(Reporter :',
    '(Reporters:',
    '(Reporters :',
    '(Writer:',
    '(Writer :',
    '(Writers:',
    '(Writers :',
    '(Editor:',
    '(Editor :',
    '(Editors:',
    '(Editors :',
    '(Writer & Editor:',
    '(Writer & Editor :',
    '(Writers & Editors:',
    '(Writers & Editors :',
    '(Author/Editor:',
    '(Author/Editor :',
    '(Authors/Editors:',
    '(Authors/Editors :',
    'The article was edited',
    'This article was first published',
    'This story was produced',
    'The story has been updated',
    'This story has been updated',
    'This article has been updated',
    'this article originally appear',
    'This story came from',
    '© The New York Times',
    '© 2023 the new york times',
    '© The Financial Times',
    '© 2021 The Financial Times',
    '© 2022 The Financial Times',
    '© 2023 The Financial Times',
    '©2020 Bloomberg',
    '©2021 Bloomberg',
    '©2022 Bloomberg',
    '©2020 Project Syndicate',
    '©2021 Project Syndicate',
    '©2022 project syndicate',
    '©1995-2022 Project Syndicate',
    '©Project Syndicate',
    'Project Syndicate',
    '©2022',
    '© 2022',
    '©2021',
    '© 2021',
    '©2020',
    '© 2020',
    '© 2016 - 2024 PT. Bina Media Tenggara',
    '©CNN',
    'TSB',
    'lzb',
    '/lzb',
    '[atm]',
    '/atm',
    'Sources: Reuters',
    '(Source: AP)',
    '(Reporting by',
    '(by Xinhua writer',
    '(Additional reporting by',
    'Additional reporting by',
    'Edited by',
    'Produced by:',
    'Brought to you by',
    'WITH REPORT FROM',
    '—REPORTS FROM',
    '—With a report from',
    '—WITH REPORTS FROM',
    '— By YEE XIANG YUN',
    '— By M. SIVANANTHA SHARMA',
    '— By FARID WAHAB',
    '— By ANDY CHUA',
    '— By REBECCA RAJAENDRAM',
    '— By GRACE CHEN',
    '— By PAUL GABRIEL',
    '— By JEREMY TAN',
    '— By IMRAN HILMY',
    '— By SANDHYA MENON',
    '—Jerome',
    '–Jaime Laude',
    '—Julie',
    '–Helen Flores',
    '–Elizabeth Marcelo',
    '—MA. APRIL MIER-MANJARES',
    '—Jovic',
    '—JOANNA',
    '—JUN A. MALIG',
    '—DONA',
    '—Nikka',
    '–Rudy Santos',
    '—Leila B. Salaverria',
    '—NESTLE SEMILLA',
    '—NESTOR',
    '—Patricia',
    '—Tina',
    '— Bella Perez-Rubio',
    '— KHIRTHNADHEVI KUMAR',
    '— Christian Deiparine',
    '— Kaycee Valmonte with Agence France-Presse',
    '- Jakarta Post',
    '— Jakarta Post',
    '– AP',
    '- AFP',
    '– AFP',
    '— AFP',
    '– dpa',
    '- Reuters',
    '— Reuters',
    '– Reuters',
    '- Bloomberg',
    '– Bloomberg',
    '— Bloomberg',
    '- Bernama',
    '– Bernama',
    '— Bernama',
    '-- Bernama',
    '- Xinhua',
    '— VNS',
    'VNS Copyrights 2012',
    '-VNA',
    './. VNA',
    './.  VNA',
    './.   VNA',
    './.    VNA',
    '- The Straits Times/ANN',
    '– The Straits Times (Singapore)/Asia News Network',
    '- The Nation Thailand/ANN',
    '— The Nation Thailand/ANN',
    '- Philippines Daily Inquirer/ANN',
    '— Vietnam News',
    '- Vietnam News/ANN',
    '- Phnom Penh Post/ANN',
    '– South China Morning Post',
    '– Thomson Reuters Foundation',
    '– Los Angeles Times/Tribune News Service',
    '– Hartford Courant/Tribune News Service',
    '– Bangkok Post, Thailand/Tribune News Service',
    '– Khaleej Times, Dubai/Tribune News Service',
    'C. Nika – AKP',
    'C. Nika -AKP',
    'Pheng Somany – AKP',
    'Pheng Somany -AKP',
    'Chea Vannak – AKP',
    'Chea Vannak -AKP',
    'Chea Vannak/AKP/KT',
    'AKP-Lim Nary',
    'bhf.org',
    'Gavi.org',
    'burs/',
    'burs-',
    'bangkok post/',
    'CHINA DAILY/ANN',
    'Khmer Times/Coventry Telegraph',
    'Email karnjanak@bangkokpost.co.th',
    'CONTACT: BANGKOK POST BUILDING',
    'MCI (P)',
    '[ac]',
    '-- More to follow --',
    'Click below to watch',
    'Click here for more',
    'Click here to read more',
    'View More',
    'READ:',
    'READ MORE:',
    'Read next',
    'READ NEXT:',
    'READ MORE HERE',
    'Read more from',
    'Read more stories',
    'READ FULL STORY:',
    'Read more Global Nation stories',
    'More from South China Morning Post:',
    '. Learn more about',
    'For more news like this',
    'For more information about',
    'For the latest news from',
    'Watch the full news',
    'RELATED:',
    'RELATED STORIES',
    'RELATED STORY',
    'RELATED VIDEO',
    'TOPIC:',
    'Reference:',
    'Source:',
    'Visit https://spoti.fi',
    'catch the olympics games',
    'cna women is a section on cna',
    'Write to us at',
    'Sign up for our daily',
    'Subscribe now to',
    '. Subscribe to',
    'Already a subscriber?',
    'Download the app and',
    'We use cookies',
    'Tags / Keywords:',
    'By registering, you agree with',
    'All letter writers must provide full name and address',
    'All letter writers must provide a full name and address',
    'To be updated with all the latest news and analyses daily.',
    'For more news about the novel coronavirus click here',
    'Follow INQUIRER.net',
    'The Inquirer Foundation',
    'The Cambodia Daily is',
    'Philstar.com is one of the most ',
    'Khmer Times is now available',
    'ADVT',
    'Best viewed on',
    'Report it to us',
    'COPYRIGHT ©',
    'copyright© mediacorp 2023',
]

# Media-credit regex deletions applied to text spans — the reference's
# full remove_media_credit pattern set (:1616-1645), rule data.  Patterns
# ending in newline-bounded deletions use (\n|$) here because spans are
# single lines (the reference operates on the '\n'-joined body).
MEDIA_CREDIT_PATTERNS = [
    r"(?is)\([^()]*first of two parts[^()]*\)",
    r"(?is)\([^()]*second of two parts[^()]*\)",
    r"(?is)\([^()]*pic[^()]*\)",
    r"(?s)\(Image: .+?\)",
    r"(?s)\(Photo.+?\)",
    r"(?s).+?Photo from.+?(\n|$)",
    r"(?s).+?Screenshot from.+?(\n|$)",
    r"(?s).+?FIle photo.+?(\n|$)",
    r"(?s)\(AP Photo.+?\)",
    r"(?s)\(File photo: .+?\)",
    r"(?s)File photo of .+?(\n|$)",
    r"(?s)FILE-.+?(\n|$)",
    r"(?s).*?file photo.*?(\n|$)",
    r"(?s).*?File photo.*?(\n|$)",
    r"(?s).*?FILE PHOTO.*?(\n|$)",
    r"(?s).*?PHOTO:.*?(\n|$)",
    r"(?s).*?PVL PHOTO.*?(\n|$)",
    r"(?s).*?UAAP PHOTO.*?(\n|$)",
    r"(?s).*?INQUIRER PHOTO.*?(\n|$)",
    r"(?s).*?/INQUIRER\.net.*?(\n|$)",
    r"(?s).*?PHOTO FROM.*?(\n|$)",
    r"(?s).*?REUTERS/.*?(\n|$)",
    r"(?s).*?CONTRIBUTED PHOTO.*?(\n|$)",
    r"(?s)FILE PHOTO-.+?",
    r"(?s)FILE PHOTO: .+?File Photo",
    r"(?s)WATCH THE LIVESTREAM HERE:",
    r"(?s)Watch the full speech:",
]

# Retry policy (reference middlewares.py:38-40, spider :636, :543-555)
RETRYABLE_STATUSES = [500, 502, 503, 504, 400, 408]
SKIP_STATUSES = [202]  # reference :883-884
MAX_RETRIES = 5

# Politeness defaults (reference DOWNLOAD_DELAY :427-428, settings.py:23-31)
DEFAULT_CRAWL_DELAY_S = 0.5
BATCH_PERIOD_S = 30.0  # virtual micro-batch period → per-host budget
# AutoThrottle delay bounds (reference AUTOTHROTTLE_START_DELAY /
# AUTOTHROTTLE_MAX_DELAY, settings.py:71-80), in milliseconds
AUTOTHROTTLE_START_DELAY_MS = 5000
AUTOTHROTTLE_MAX_DELAY_MS = 60000
